"""Sequence PACKING for training pipelines: assign documents to
fixed-token-budget context windows.

No reference analog (kettek/schisma is a single-value validator); this is
a training-data-pipeline extension in the same family as dedup/curation.
Two strategies, both deterministic:

- ``chunk`` (default, oracle-able): the GPT-style concatenate-then-chunk
  assignment. Documents are sharded, ordered by id within a shard, laid
  end-to-end, and the token stream is cut every ``budget`` tokens; each
  document is assigned the chunk containing its FIRST token (``seq_id``)
  plus the chunk containing its last (``end_seq`` — a long document can
  span several). Pure window arithmetic: exclusive prefix-sum of token
  counts, then integer division. One shuffle (by shard); every window is
  shard-local, so at 100 TB the sort is bounded by shard size — there is
  NO global window (n_shards scales with the cluster, and the shard hash
  is uniform by construction).
- ``greedy`` (next-fit): T5-style packing WITHOUT splitting — a document
  that does not fit the open window closes it and starts the next; a
  document longer than the budget gets a window of its own. Sequential
  per shard (the recurrence is inherently ordered), parallel across
  shards via ``applyInPandas`` — the per-shard group is the unit a real
  packer materializes anyway. Verified against a pure-Python reference
  in tests; not SQL-expressible, so no DuckDB twin (driver records the
  rows-only check for it — the ``chunk`` twin is the hash-green oracle).

Every input row yields exactly one output row (NULL/blank text packs as
0 tokens at its offset — the curation gates upstream decide whether it
should have been dropped; packing never drops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from schisma_spark.functions.portable import hash32
from schisma_spark.functions.text import token_count_ws
from schisma_spark.session import worker_init

PACK_SCHEMA = ("{id} {id_type}, tokens long, shard long, seq_id long, "
               "offset long, end_seq long")


def _tokens(df: DataFrame, text_col: str, token_col: str | None) -> Column:
    if token_col is not None:
        return F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    return F.coalesce(token_count_ws(F.col(text_col)).cast("long"),
                      F.lit(0))


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget: int = 2048,
    token_col: str | None = None,
    n_shards: int | None = None,
    strategy: str = "chunk",
) -> DataFrame:
    """Per-document window assignment: ``id, tokens, shard, seq_id,
    offset, end_seq``.

    ``seq_id`` is shard-local (a global window id, when needed, is
    ``shard * max_seqs + seq_id`` — kept factored so the output is
    stable under re-sharding of everything else). ``offset`` is the
    token offset of the document's first token inside ``seq_id``;
    ``end_seq`` is the window holding its last token (== seq_id for
    ``greedy``, which never splits).

    ``token_col`` supplies a precomputed token count (e.g. from a real
    tokenizer run); default derives whitespace counts from ``text_col``.
    The unit is arbitrary: pass decoded-byte or pixel counts as
    ``token_col`` to pack IMAGE rows into fixed-memory GPU batches with
    the same machinery. The shard hash is the portable md5 prefix so the
    chunk strategy has an exact DuckDB twin.

    ``n_shards`` bounds the per-task work on BOTH strategies: each
    shard is one sorted window partition (chunk) / one pandas group
    (greedy), so a shard must fit a task — the default derives
    ``4 x defaultParallelism`` from the session (a plan-time constant,
    no job), but a 10^12-row corpus on a big cluster should pass an
    explicit count sized so rows/n_shards stays in task range.
    Determinism caveat: the assignment is deterministic GIVEN n_shards —
    pin it explicitly when two runs (or an oracle) must agree across
    differently-sized sessions.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_shards is None:
        n_shards = 4 * df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col),
        _tokens(df, text_col, token_col).alias("tokens"),
        (hash32(F.col(id_col).cast("string")) % n_shards).alias("shard"),
    )
    if strategy == "chunk":
        w = (Window.partitionBy("shard").orderBy(id_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        start = (F.sum("tokens").over(w) - F.col("tokens")).alias("_start")
        out = base.select(id_col, "tokens", "shard", start)
        seq = F.floor(F.col("_start") / budget)
        end = F.floor(
            (F.col("_start") + F.greatest(F.col("tokens"), F.lit(1)) - 1)
            / budget)
        return out.select(
            id_col, "tokens", "shard",
            seq.alias("seq_id"),
            (F.col("_start") - seq * budget).alias("offset"),
            end.alias("end_seq"),
        )
    if strategy == "greedy":
        import pandas as pd

        _id = id_col

        def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
            worker_init()
            pdf = pdf.sort_values(_id)
            seqs, offs = [], []
            seq, fill = 0, 0
            for tok in pdf["tokens"]:
                if fill > 0 and fill + tok > budget:
                    seq, fill = seq + 1, 0
                offs.append(fill)
                seqs.append(seq)
                fill += tok
            pdf = pdf.assign(seq_id=seqs, offset=offs)
            pdf["end_seq"] = pdf["seq_id"]
            return pdf[[_id, "tokens", "shard", "seq_id", "offset",
                        "end_seq"]]

        id_type = base.schema[id_col].dataType.simpleString()
        return base.groupBy("shard").applyInPandas(
            _pack, PACK_SCHEMA.format(id=id_col, id_type=id_type))
    raise ValueError(f"unknown strategy {strategy!r}")


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """One-row fill report over a :func:`pack_sequences` result:
    ``n_docs, n_seqs, total_tokens, fill_rate``. ``n_seqs`` counts every
    window any document STARTS in per shard (``max(end_seq)+1`` — chunk
    windows a long document merely passes through still exist).
    ``fill_rate = total_tokens / (n_seqs * budget)`` — the fraction of
    the training batch that is real data rather than padding (chunk
    packing trails only the final partial window per shard; greedy also
    pays per-window tail gaps). Aggregates are map-side partial; the
    by-shard stage is at most ``n_shards`` rows."""
    per_shard = packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("docs"),
        (F.max("end_seq") + 1).alias("seqs"),
        F.sum("tokens").alias("toks"),
    )
    # empty input: global sums over zero rows are NULL — report a real
    # all-zero row (callers int()/float() the metrics into manifests)
    return per_shard.agg(
        F.coalesce(F.sum("docs"), F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("seqs"), F.lit(0)).cast("long").alias("n_seqs"),
        F.coalesce(F.sum("toks"), F.lit(0)).cast("long")
         .alias("total_tokens"),
        F.coalesce(F.round(F.sum("toks") / (F.sum("seqs") * budget), 6),
                   F.lit(0.0)).alias("fill_rate"),
    )


def chunk_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 256,
    overlap: int = 64,
) -> DataFrame:
    """Per-document OVERLAPPING chunking — the RAG/window-attention prep
    pass: split each document's (normalized, whitespace-split) token
    stream into windows of ``chunk_tokens`` with ``overlap`` tokens of
    context carried between consecutive windows (stride =
    ``chunk_tokens - overlap``). Complements :func:`pack_sequences`:
    packing concatenates documents ACROSS the corpus to fill a training
    budget; chunking splits ONE document into retrievable pieces.

    One row per chunk: ``id_col, chunk_id, start_tok, end_tok
    (exclusive), n_tokens, chunk_text``; a non-empty doc shorter than
    ``chunk_tokens`` yields exactly one full-doc chunk; empty/NULL docs
    yield no rows (a transform, not a per-doc report — count them
    upstream). The last chunk is never a sliver: chunk i starts at
    ``i*stride`` and chunks stop as soon as one reaches the end of the
    doc, so every token lands in >= 1 chunk and the final chunk ends
    exactly at ``n``.

    Scale shape: one let-bound projection builds the chunk array
    (constant-size expression tree — the per-chunk structs come from ONE
    ``transform`` over a ``sequence``, not an unrolled Column per chunk)
    and explodes it — shuffle-free; ``chunk_text`` re-materializes the
    normalized tokens, so output bytes are ~``n/stride`` x input (the
    overlap tax every RAG index pays). Operates on the ``words()``
    normalized stream (lowercased, whitespace-collapsed), same as the
    dedup/vocab family — byte-faithful chunking of raw text would key on
    character offsets instead."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must satisfy 0 <= overlap < chunk_tokens "
            f"(got {overlap} vs {chunk_tokens})")
    from schisma_spark.functions.dedup import words
    from schisma_spark.functions.portable import bind

    stride = chunk_tokens - overlap

    def body(w: Column) -> Column:
        n = F.size(w)
        # number of chunks: 0 for empty; else 1 + ceil((n - chunk)/stride)
        extra = F.ceil((n - F.lit(chunk_tokens)).cast("double")
                       / F.lit(stride)).cast("int")
        n_chunks = F.when(n <= 0, F.lit(0)).when(
            n <= chunk_tokens, F.lit(1)).otherwise(1 + extra)
        # sequence(1, 0) would generate DESCENDING [1, 0]; a NULL array
        # for empty docs lets posexplode drop the row (documented)
        return F.when(n_chunks >= 1, F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.struct(
                ((i - 1) * stride).cast("long").alias("start_tok"),
                F.least(n, (i - 1) * stride + chunk_tokens)
                .cast("long").alias("end_tok"),
                F.concat_ws(
                    " ",
                    F.slice(w, (i - 1) * stride + 1,
                            F.least(n - (i - 1) * stride,
                                    F.lit(chunk_tokens)))
                ).alias("chunk_text"),
            ),
        ))

    chunks = bind(words(F.col(text_col)), body)
    return (
        df.select(F.col(id_col), F.posexplode(chunks)
                  .alias("chunk_id", "_c"))
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("_c.start_tok").alias("start_tok"),
            F.col("_c.end_tok").alias("end_tok"),
            (F.col("_c.end_tok") - F.col("_c.start_tok"))
            .alias("n_tokens"),
            F.col("_c.chunk_text").alias("chunk_text"),
        )
    )
