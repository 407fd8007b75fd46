"""Structured Streaming surface (SURVEY §2.B E17).

The batch engine is the deliverable; streaming is the same fused check
projection applied per micro-batch:

- ``validate_stream``: ``readStream -> foreachBatch(run checks)`` — each
  batch appends violations to a sink and verdict records to the same
  atomic manifest the batch path uses, so batch and streaming runs share
  one resume/bookkeeping story
- ``windowed_drift_stream``: watermarked tumbling-window histograms for
  drift-over-time on an event-time column — late rows beyond the watermark
  are dropped by Spark's state store, which is the correct semantics for a
  monitoring sketch
- ``stateful_exact_dedup_stream``: CROSS-batch exact dedup via
  ``applyInPandasWithState`` — the custom-stateful-operator path (north
  brief): O(1) keyed state per distinct fingerprint, survives restarts
  through the checkpoint
"""

from __future__ import annotations

import time
from dataclasses import replace
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark.dsl import Schema
from schisma_spark.manifest import Manifest
from schisma_spark.session import worker_init
from schisma_spark.validate import validate


def validate_stream(
    spark: SparkSession,
    input_path: str,
    sch: Schema,
    spark_schema: T.StructType,
    manifest_path: str,
    checkpoint_path: str,
    part_col: str = "part",
    keys: tuple[str, ...] = (),
    violations_path: str | None = None,
    available_now: bool = True,
    extra_process: Callable[[DataFrame, int], None] | None = None,
):
    """Continuously validate files arriving under ``input_path``.
    ``available_now=True`` drains what exists and stops (test/backfill
    mode); False runs until ``query.stop()``.

    The schema compiles ONCE per query, on the first micro-batch: every
    batch has ``spark_schema`` and the compiled columns bind by name, so
    later batches re-point the same result at their frame."""
    manifest = Manifest(manifest_path)
    compiled = []

    def process(batch_df: DataFrame, batch_id: int):
        if not compiled:
            compiled.append(validate(batch_df, sch, keys=[*keys, part_col],
                                     ignore_unexpected=True))
        res = replace(compiled[0], df=batch_df)
        if violations_path:
            res.violations.write.mode("append").parquet(violations_path)
        verd = res.verdicts([part_col]).collect()
        now = time.time()
        manifest.append(
            [
                {
                    "partition": f"batch-{batch_id}/part-{r[part_col]}",
                    "status": "done",
                    "n_rows": r["n_rows"],
                    "n_violations": r["n_violations"],
                    "n_bad_rows": r["n_bad_rows"],
                    "verdict": r["verdict"],
                    "finished_at": now,
                    "lineage": {"batch_id": batch_id, "input": input_path},
                }
                for r in verd
            ]
        )
        if extra_process is not None:
            extra_process(batch_df, batch_id)

    return _start_stream(spark, input_path, spark_schema, checkpoint_path,
                         available_now, process)


def _start_stream(spark: SparkSession, input_path: str,
                  spark_schema: T.StructType, checkpoint_path: str,
                  available_now: bool, process: Callable):
    """Start ``foreachBatch(process)`` over the parquet files arriving
    under ``input_path``; ``available_now`` drains what exists and stops."""
    writer = (spark.readStream.schema(spark_schema).parquet(input_path)
              .writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_path))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _append_decisions(op: Callable, decisions_path: str) -> Callable:
    """A ``foreachBatch`` body appending ``op(batch)`` plus ``batch_id``."""
    def process(batch_df: DataFrame, batch_id: int):
        (op(batch_df).withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(decisions_path))
    return process


def windowed_drift_stream(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window fixed-bin histogram — the streaming twin
    of checks.drift.fixed_histogram; mergeable downstream by addition."""
    from schisma_spark.checks.drift import bucket_expr

    return (
        stream_df.withWatermark(ts_col, watermark)
        .where(F.col(value_col).isNotNull())
        .groupBy(
            F.window(F.col(ts_col), window).alias("win"),
            bucket_expr(F.col(value_col), lo, hi, nbins).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "bin",
            "cnt",
        )
    )


def stateful_exact_dedup_stream(
    stream_df: DataFrame,
    fp_col: str,
    id_col: str,
) -> DataFrame:
    """Cross-micro-batch exact deduplication — the streaming twin of
    ``functions.dedup.exact_dup_groups`` as a CUSTOM STATEFUL operator
    (``applyInPandasWithState``).

    Per fingerprint the state store keeps ``(first_id, n_seen)`` — a few
    dozen bytes regardless of how many duplicates arrive, unlike
    ``dropDuplicates`` + join gymnastics. Every batch in which a
    fingerprint appears emits an updated ``fp, first_id, n_dupes, is_new``
    row (update output mode): ``is_new`` marks the batch that saw the
    fingerprint first, ``first_id`` is pinned to the smallest id of that
    first batch (deterministic, under the id column's NATIVE ordering —
    numeric ids compare numerically, strings lexicographically), ``n_dupes``
    is the lifetime count. State lives in the checkpoint, so a restarted
    query keeps recognizing duplicates of keys seen before the restart.

    The out/state schemas are derived from ``stream_df.schema`` (r4,
    ADVICE): any fp/id column types work — they are carried through
    verbatim, not forced to long/string. CHECKPOINT-COMPAT CAVEAT: the
    state schema is therefore tied to the input column types — changing
    the fp/id types of an existing stream (or upgrading a checkpoint
    written by the pre-r4 long/string schema with non-string ids)
    requires a FRESH checkpoint; Spark's state-schema compatibility
    check rejects the mismatch rather than corrupting state.

    Scale shape: one shuffle on ``fp`` per batch (the stateful exchange);
    state size = O(distinct fingerprints), the same footprint the batch
    fingerprint aggregate would carry per run, but amortized across the
    stream's lifetime.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    fp_type = stream_df.schema[fp_col].dataType
    id_type = stream_df.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField("fp", fp_type),
        T.StructField("first_id", id_type),
        T.StructField("n_dupes", T.LongType()),
        T.StructField("is_new", T.BooleanType()),
    ])
    state_schema = T.StructType([
        T.StructField("first_id", id_type),
        T.StructField("n_seen", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        worker_init()
        n_batch = 0
        batch_min = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n_batch += len(pdf)
            m = pdf[id_col].min()  # native dtype ordering
            batch_min = m if batch_min is None else min(batch_min, m)
        if n_batch == 0:
            return
        if state.exists:
            first_id, n_seen = state.get
            is_new = False
        else:
            first_id, n_seen = batch_min, 0
            is_new = True
        n_seen += n_batch
        state.update((first_id, n_seen))
        yield pd.DataFrame({
            "fp": [key[0]], "first_id": [first_id],
            "n_dupes": [n_seen], "is_new": [is_new],
        })

    return (
        stream_df.select(F.col(fp_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def windowed_kll_stream(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    window: str = "10 minutes",
    watermark: str = "1 hour",
    k: int = 200,
) -> DataFrame:
    """Watermarked tumbling-window KLL quantile sketch — the streaming twin
    of checks.sketch.kll_sketch. One ~3 KB mergeable sketch per window in
    the state store (fixed-size state regardless of row volume, unlike a
    collect_list); downstream, each window's sketch compares against the
    baseline via checks.sketch.ks_from_sketches without touching raw rows."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .where(F.col(value_col).isNotNull())
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(F.kll_sketch_agg_double(F.col(value_col), F.lit(k)).alias("sketch"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "sketch",
        )
    )


def decontaminate_stream(
    spark: SparkSession,
    input_path: str,
    spark_schema: T.StructType,
    eval_df: DataFrame,
    decisions_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    **decontam_kw,
):
    """Continuously decontaminate documents arriving under
    ``input_path`` against a STATIC benchmark table — the streaming twin
    of ``functions.dedup.decontaminate`` (the ingest-time gate: flag
    benchmark leakage before a document ever lands in the corpus).

    Each micro-batch is a complete set of documents (a document never
    spans batches), so contamination is decided per batch with ZERO
    cross-batch state: ``foreachBatch`` re-applies the batch operator
    verbatim — same shingle hashing, same eval-set equi-join, every
    batch row yields exactly one appended decision row. The eval frame
    is evaluated per batch; cache it when it is not a trivial scan.
    Restart semantics come from the checkpoint: a replayed batch
    re-appends idempotently at the file-sink level (exactly-once via
    Spark's foreachBatch + parquet sink transaction log is the
    deployment's concern; the operator itself is deterministic, so
    replays write identical rows)."""
    from schisma_spark.functions.dedup import decontaminate

    return _start_stream(
        spark, input_path, spark_schema, checkpoint_path, available_now,
        _append_decisions(lambda b: decontaminate(b, eval_df, text_col,
                                                  id_col, **decontam_kw),
                          decisions_path))


def incremental_dedup_stream(
    spark: SparkSession,
    input_path: str,
    spark_schema: T.StructType,
    corpus_sigs: DataFrame,
    decisions_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    **dedup_kw,
):
    """Ingest-time near-dup gate: documents arriving under ``input_path``
    are checked against the EXISTING corpus via its persisted signature
    table (``functions.dedup.incremental_dedup``) — the streaming
    deployment of the production dedup shape, where the 10^12-doc corpus
    is never re-signed and each micro-batch pays only O(batch · bands)
    work plus the index join.

    Zero cross-batch state: the corpus index is static for the run (a
    deployment refreshes it between runs by unioning accepted batches'
    signatures — the signature table is the mergeable artifact). Every
    batch row yields exactly one appended decision row
    (new_id, keep, dup_of, est_jac, batch_id); restarts replay
    deterministically, same as ``decontaminate_stream``. Cache
    ``corpus_sigs`` when it is not a trivial scan — foreachBatch
    re-evaluates it per batch."""
    from schisma_spark.functions.dedup import incremental_dedup

    return _start_stream(
        spark, input_path, spark_schema, checkpoint_path, available_now,
        _append_decisions(lambda b: incremental_dedup(b, corpus_sigs,
                                                      text_col, id_col,
                                                      **dedup_kw),
                          decisions_path))


def sessionize_stream(
    stream_df: DataFrame,
    entity_col: str,
    ts_col: str,
    gap: str = "8 hours",
    watermark: str = "1 hour",
    value_col: str | None = None,
) -> DataFrame:
    """Watermarked SESSION-window aggregation — the streaming twin of
    functions.temporal.session_stats: per-entity sessions that close after
    ``gap`` of inactivity, emitted once the watermark passes the session
    end. Uses Spark's native ``session_window`` (merging-window state in
    the state store: one [start, end] interval per open session per
    entity, extended/merged as events arrive — O(open sessions) state,
    NOT O(events)), so late events inside the watermark still merge their
    session, and two sessions bridged by a late event collapse into one —
    semantics the batch lag+cumsum twin reproduces exactly on replay.

    Emits ``entity, session_start, session_end, n_events`` plus
    ``sum_value`` when ``value_col`` is given. Note the window closes at
    last_event + gap (Spark session_window semantics), so ``span_sec``
    from the batch twin equals ``(session_end - session_start) -
    gap_sec``. Output modes: append (production — emit once final, after
    the watermark passes) or complete; Spark rejects update for
    session-window aggregations."""
    # watermarks reject TIMESTAMP_NTZ (the driver parquet's type); the
    # cast shifts NTZ by the session offset, which cancels in every gap
    # comparison — window bounds shift consistently with the events
    g = (
        stream_df
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(
            F.col(entity_col),
            F.session_window(F.col(ts_col), gap).alias("win"),
        )
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("sum_value"))
    return g.agg(*aggs).select(
        entity_col,
        F.col("win.start").alias("session_start"),
        F.col("win.end").alias("session_end"),
        "n_events",
        *([F.col("sum_value")] if value_col is not None else []),
    )
