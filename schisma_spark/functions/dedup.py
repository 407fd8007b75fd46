"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shapes (the part that matters at 10^12 docs):

- exact dedup: one salted-friendly hash aggregate on a 60-bit fingerprint —
  never shuffles document text, only (fingerprint, id) pairs
- MinHash/LSH: signatures are computed in one projection (shingles ->
  n portable min-hashes); candidate generation explodes only (band_idx,
  band_hash, id) triples and self-joins on the band key, so the shuffle
  carries O(n_docs * bands) small rows, not O(n_docs^2) pairs; exact
  Jaccard runs only on candidates
- SimHash: one projection -> 32-bit signature; near-dup candidates join on
  byte-bands of the signature

All hashing is the portable md5-prefix (functions/portable.py) so every
stage has a DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as _T

from schisma_spark.functions.portable import (
    bind, hash32, hash32_native, lit_longs,
)
from schisma_spark.functions.text import TOKEN_RE  # noqa: F401  (re-export)
from schisma_spark.session import cached_column
from schisma_spark.sources import Checkpoints, local_frame, materialize

MINHASH_P = 4294967311  # smallest prime > 2^32 (universal-hash modulus;
#                         doubles as the empty-shingle minhash sentinel)
H32_SENTINEL = 4294967296  # 2^32: > any hash32 value (empty-shingle min,
#                            native path)

def _minhash_coefs(n_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_j, b_j) for the universal-hash minhash family
    h_j(x) = (a_j * x + b_j) mod MINHASH_P. a_j < 2^31 keeps the product
    a_j * hash32 < 2^63 (fits signed int64 on Spark AND DuckDB — the
    portability constraint)."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    a = [h(f"minhash-a:{j}") % (2**31 - 1) + 1 for j in range(n_hashes)]
    b = [h(f"minhash-b:{j}") % MINHASH_P for j in range(n_hashes)]
    return a, b


def norm_text(c: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def words(c: Column) -> Column:
    """NULL text -> [] like blank text (r6): split(NULL) is NULL, and the
    NULL word array used to flow through the shingle builder as a single
    EMPTY-STRING shingle ([''] — greatest() skips the NULL size, so the
    guard never fired). That phantom shingle gave every NULL-text doc an
    identical non-empty shingle set: jac 1.0 pairs between all NULL docs
    and a degenerate LSH bucket that ESCAPES the empty-shingle prune (the
    array isn't empty) — the exact O(N_null^2) blowup the prune exists to
    kill. [] makes NULL behave like blank text everywhere downstream
    (sentinel minhash sig, pruned from banding, 0 shingles)."""
    t = F.trim(F.lower(c))
    return F.when(t.isNull() | (t == ""),
                  F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def word_shingles(c: Column, k: int = 3) -> Column:
    """Distinct word k-grams ('a b c'). DuckDB twin:
    list_distinct(list_transform(range(1, len(w)-k+2),
                                 i -> w[i]||' '||w[i+1]||...)).
    The word array is let-bound — a naive composition re-runs the split
    for every element_at reference (k per shingle per row)."""

    def body(w: Column) -> Column:
        n = F.size(w)
        sh = F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, (i + j).cast("int")) for j in range(k)]
            ),
        )
        return F.array_distinct(
            F.when(n < k, F.array().cast("array<string>")).otherwise(sh)
        )

    return bind(words(c), body)


def minhash_signature(shingles: Column, n_hashes: int = 16,
                      hasher: str = "portable") -> Column:
    """n min-hashes: sig[j] = min over shingles of hash32(j || ':' ||
    shingle); empty shingle set -> 2^32 sentinel. One projection, no
    shuffle. The shingle array is let-bound so it is computed once per row,
    not once per hash function.

    ``hasher='portable'`` (DuckDB-oracle-able, the default): ONE md5 per
    shingle (``hash32``) + n universal-hash mixes
    ``(a_j * h + b_j) mod MINHASH_P`` in a single min-vector fold —
    integer arithmetic DuckDB replicates bit-exactly (r4; the previous
    scheme md5-hashed every shingle n times, 16x the md5 work, and built
    n separate Column trees). Empty shingle set -> all-MINHASH_P
    sentinel.

    ``'native'`` (the 100-TB production path): per-(j, shingle) masked
    ``xxhash64(j, s)`` — the shape that recorded the best measured wall
    (1.75 s at 2M captions, r3). r5 finding, measured interleaved in one
    session AND structurally via explain: NO minhash shape is ever
    whole-stage-codegen'd — ``bind`` is itself a HOF, so every variant
    plans 0 WSCG spans and runs interpreted — and this form vs the
    unified universal-hash fold time EQUAL within noise (~3 s each under
    r5 box conditions). The r4 native 'regression' (1.75 -> 2.75 s) was
    the fan_out shuffle added to that bench row, not the unification:
    repartitioning 2M narrow rows costs +30-60% on a hasher this cheap
    (bench.py keeps fan_out only on the md5-bound portable row)."""
    if hasher == "native":
        def one(sh: Column, j: int) -> Column:
            return F.transform(sh, lambda s: hash32_native(F.lit(j), s))

        return bind(
            shingles,
            lambda sh: F.array(
                *[
                    F.coalesce(F.array_min(one(sh, j)), F.lit(H32_SENTINEL))
                    for j in range(n_hashes)
                ]
            ),
        )
    a, b = _minhash_coefs(n_hashes)
    p = MINHASH_P

    def _one(hs: Column, j: int) -> Column:
        # scalar-literal mixes: a min-vector fold with zip_with over
        # literal arrays computes the same values but allocates ~3 small
        # arrays PER SHINGLE in interpreted eval — measured 6x slower
        # than this per-j form inside a long-lived session (GC churn),
        # while per-j allocates n_hashes arrays per ROW
        return F.array_min(F.transform(hs, lambda h: (a[j] * h + b[j]) % p))

    return bind(
        F.transform(shingles, lambda s: hash32(s)),
        lambda hs: F.array(
            *[F.coalesce(_one(hs, j), F.lit(p)) for j in range(n_hashes)]
        ),
    )


def minhash_signatures_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    n_hashes: int = 16,
    hasher: str = "native",
    keep_empty: bool = True,
) -> DataFrame:
    """``id_col, sig`` (array<long>) for every document — the CODEGEN'd
    signature-TABLE materialization path (r6, closing r5 VERDICT #3).

    Shape: explode the shingle set, hash in ``n_hashes`` plain scalar
    columns, groupBy(id) with ``n_hashes`` MIN aggregates, re-assemble
    the array. Because no higher-order function touches the hot stage,
    the per-shingle hashing and the min-combine run inside WHOLE-STAGE
    CODEGEN — the one thing no projection-shaped minhash can do (bind()
    is itself a HOF, so every array variant plans 0 WSCG spans;
    CLAUDE.md). Interleaved same-session A/B at 2M captions, local[32]:
    0.75x the projection wall (1.99 s vs 2.66 s median) — while a
    hash-once+integer-mix projection variant measured 1.13x (xxhash64 is
    cheaper than long-mod mixes).

    THE TRADE (why this does not replace the projection in
    ``minhash_candidate_pairs``): the groupBy adds one full-corpus
    exchange of (id, n_hashes longs) that the projection path does not
    have — banding straight off a projected signature feeds the band
    self-join with ZERO extra shuffles. At the 10^12-doc design point
    that exchange is ~2x the banding shuffle volume, so candidate
    generation keeps the projection; use THIS function when you are
    materializing a signature table anyway (the shuffle then IS the
    materialization) or when the job is compute-bound, not
    network-bound.

    Values are bit-identical to ``minhash_signature`` with the same
    ``hasher`` (same hash family, min over the same distinct shingle
    set), so the portable flavor inherits the projection's DuckDB
    oracle. ``keep_empty`` restores docs whose shingle set is empty
    (NULL/blank/< k words — explode drops them) with the all-sentinel
    signature via a left join from the id side; pass False when feeding
    banding, which prunes them regardless."""
    if hasher == "native":
        def h_cols(sh: Column) -> list[Column]:
            return [hash32_native(F.lit(j), sh).alias(f"_h{j}")
                    for j in range(n_hashes)]
        sentinel = H32_SENTINEL
    else:
        a, b = _minhash_coefs(n_hashes)

        def h_cols(sh: Column) -> list[Column]:
            h = hash32(sh)
            return [((a[j] * h + b[j]) % MINHASH_P).alias(f"_h{j}")
                    for j in range(n_hashes)]
        sentinel = MINHASH_P
    sig = (
        df.select(F.col(id_col),
                  F.explode(word_shingles(F.col(text_col), shingle_k))
                  .alias("_sh"))
        .select(id_col, *h_cols(F.col("_sh")))
        .groupBy(id_col)
        .agg(*[F.min(f"_h{j}").alias(f"_m{j}") for j in range(n_hashes)])
        .select(F.col(id_col),
                F.array(*[F.col(f"_m{j}") for j in range(n_hashes)])
                .alias("sig"))
    )
    if not keep_empty:
        return sig
    return (
        df.select(F.col(id_col))
        .join(sig, id_col, "left")
        .select(F.col(id_col),
                F.coalesce(F.col("sig"),
                           lit_longs([sentinel] * n_hashes)).alias("sig"))
    )


def lsh_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Band hashes: band b = hash32 of ','-joined sig[b*rows .. b*rows+rows-1].
    array<long> of length ``bands``. ``sig`` is let-bound: computed once,
    indexed bands*rows times."""
    return bind(
        sig,
        lambda s: F.array(
            *[
                hash32(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(s, b * rows + r + 1).cast("string")
                            for r in range(rows)
                        ],
                    )
                )
                for b in range(bands)
            ]
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    """|A ∩ B| / |A ∪ B| over distinct-element arrays (0.0 when both empty).
    DuckDB: len(list_intersect(a,b)) / hand-built union size."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(
        (inter / union).cast("double")
    )


def cap_bucket_size(banded: DataFrame, key_cols: list[str], id_col: str,
                    max_bucket_size: int | None) -> DataFrame:
    """Hot-bucket guard for LSH self-joins (standard prod-ANN practice): a
    degenerate bucket — boilerplate text, a near-constant embedding — makes
    ONE task build O(b^2) pairs at 10^12 docs. Keep a deterministic
    UNBIASED sample of ``max_bucket_size`` rows per bucket (row_number over
    xxhash64 order, so the kept set is stable across runs and not
    prefix-biased by id assignment). ``None`` disables the cap.

    Plan shape: the row_number window shuffles on exactly the bucket key
    the subsequent self-join uses, so AQE reuses the Exchange — the cap
    costs one window pass, not an extra shuffle."""
    if max_bucket_size is None:
        return banded
    w = Window.partitionBy(*key_cols).orderBy(
        F.xxhash64(*key_cols, id_col), F.col(id_col)
    )
    return (
        banded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_bucket_size)
        .drop("_rn")
    )


def banded_pairs(banded: DataFrame, keys: list[str], id_col: str,
                 max_bucket_size: int | None) -> DataFrame:
    """The LSH candidate self-join every banded operator shares: rows of
    ``banded`` that agree on ``keys`` (a band, table bucket or shingle
    hash) pair up as ``id_a < id_b``; every other column ``c`` of
    ``banded`` rides along as ``c_a``/``c_b``. Hot buckets are capped
    first (``cap_bucket_size``). No ``distinct``: a pair sharing several
    keys appears once per key, and the caller dedups after (or instead
    of) its verify step.

    The cross joins (``incremental_near_dups``, ``embedding_decontaminate``,
    ``lsh_ann_topk``) keep their own cap + equi-join: they cap one side
    only and filter on something other than ``id_a < id_b``."""
    banded = cap_bucket_size(banded, keys, id_col, max_bucket_size)
    rest = [c for c in banded.columns if c != id_col and c not in keys]

    def build() -> tuple:
        def side(s: str) -> tuple:
            return (*map(F.col, keys), F.col(id_col).alias(f"id_{s}"),
                    *[F.col(c).alias(f"{c}_{s}") for c in rest])

        return side("a"), side("b"), F.col("id_a") < F.col("id_b")

    a, b, ordered = cached_column(
        ("banded_pairs", tuple(keys), id_col, tuple(rest)), build)
    return (banded.select(*a).join(banded.select(*b), on=keys)
            .where(ordered))


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint:
    ``fp, n_dups, min_id`` for groups of size >= 2. Only (fp, id) shuffles."""
    from schisma_spark.functions.text import fingerprint

    return (
        df.select(
            fingerprint(F.col(text_col)).alias("fp"), F.col(id_col).alias("_id")
        )
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("_id").alias("min_id"))
        .where(F.col("n_dups") >= 2)
    )


def _shingle_hashes(c: Column, k: int, hasher: str) -> Column:
    """Hashed word k-gram shingles (NULL text -> empty array) — the ONE
    definition shared by :func:`decontaminate` and
    :func:`decontaminate_pairs`, so the per-doc verdict and its
    attribution audit trail can never desynchronize on the hashing."""
    if hasher == "native":
        def hash_fn(s: Column) -> Column:  # fixed arity for the HOF
            return F.xxhash64(s)
    else:
        hash_fn = hash32
    return F.coalesce(
        F.transform(word_shingles(c, k), hash_fn),
        F.array().cast("array<long>"),
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    k: int = 3,
    min_overlap: int = 1,
    hasher: str = "portable",
    shingles_col: str | None = None,
) -> DataFrame:
    """Benchmark DECONTAMINATION (r5 VERDICT #4): flag corpus documents
    whose word k-gram shingles overlap an eval-set table — the standard
    training-data decontamination pass that keeps benchmark answers out
    of the training corpus. Returns one row per input document:
    ``id_col, n_shingles, n_overlap, contaminated`` where ``n_overlap``
    is the number of the document's DISTINCT shingles whose hash appears
    anywhere in the eval set, and ``contaminated = n_overlap >=
    min_overlap``. NULL/short texts have 0 shingles and are clean — the
    every-row contract holds (no input row is ever dropped).

    ``hasher='portable'`` (md5-prefix ``hash32``, DuckDB-oracle-able,
    default) or ``'native'`` (xxhash64, 64-bit — the production path:
    negligible collision rate against a 10^7-shingle eval set, where
    32 bits gives ~2e-3 expected false shingle hits per million doc
    shingles; decontamination is recall-oriented, so a rare false hit
    only over-flags).

    Scale shape (the 100-TB story): the corpus side explodes to
    (id, shingle_hash) — O(rows x shingles) narrow longs, never text —
    and equi-joins on the hash against the DISTINCT eval shingle set,
    which is tiny by construction (eval benchmarks are ~10^3..10^6
    docs vs a 10^12-doc corpus), so AQE broadcasts it and no shuffle of
    the corpus side occurs beyond the final per-doc count aggregate
    (map-side partials). No forced broadcast hint (CLAUDE.md: forced
    hints die under session memory pressure where AQE's choice
    succeeds); plan-guarded against cartesian in
    tests/test_plan_guarantees.py.

    ``shingles_col``: name of a pre-computed hashed-shingle
    ``array<long>`` column on ``df`` (built with the same k/hasher,
    e.g. by the decontaminate job so the expensive corpus shingle pass
    is computed once and persisted for both the per-doc verdict and the
    :func:`decontaminate_pairs` audit trail); ``text_col`` is ignored
    when given."""
    if eval_text_col is None:
        eval_text_col = text_col

    shs = (F.col(shingles_col) if shingles_col is not None
           else _shingle_hashes(F.col(text_col), k, hasher))
    corpus = df.select(F.col(id_col), shs.alias("_shs"))
    ev = (
        eval_df.select(
            F.explode(
                _shingle_hashes(F.col(eval_text_col), k, hasher)
            ).alias("_h")
        )
        .distinct()
    )
    hits = (
        corpus.select(F.col(id_col), F.explode("_shs").alias("_h"))
        .join(ev, "_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    n_ov = F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long")
    return (
        corpus.select(F.col(id_col), F.size("_shs").alias("n_shingles"))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_shingles"),
            n_ov.alias("n_overlap"),
            (n_ov >= min_overlap).alias("contaminated"),
        )
    )


def decontaminate_pairs(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    eval_text_col: str | None = None,
    k: int = 3,
    min_overlap: int = 1,
    hasher: str = "portable",
    shingles_col: str | None = None,
) -> DataFrame:
    """Decontamination ATTRIBUTION (r6): which benchmark document leaked
    into which corpus document. One row per (corpus doc, eval doc) pair
    sharing >= ``min_overlap`` distinct word k-gram shingle hashes:
    ``id_col, eval_id_col, n_shared`` — the audit trail behind
    :func:`decontaminate`'s per-doc verdict (a doc that operator flags
    has at least one row here at the same threshold, and vice versa for
    ``min_overlap=1``; per-eval-doc thresholds differ from the pooled
    count once several eval docs each contribute a few shingles).

    Scale shape: identical to :func:`decontaminate` — the corpus
    explodes to (id, hash) narrow rows, the eval side to the small
    DISTINCT (eval_id, hash) set (AQE-broadcast), then a per-pair count
    with map-side partials; output is bounded by actual contamination,
    not the corpus. Same portable/native hasher split, same
    ``shingles_col`` pre-computed-shingles contract as
    :func:`decontaminate`."""
    if eval_text_col is None:
        eval_text_col = text_col

    shs = (F.col(shingles_col) if shingles_col is not None
           else _shingle_hashes(F.col(text_col), k, hasher))
    corpus = df.select(F.col(id_col), F.explode(shs).alias("_h"))
    ev = (
        eval_df.select(
            F.col(eval_id_col),
            F.explode(
                _shingle_hashes(F.col(eval_text_col), k, hasher)
            ).alias("_h"),
        )
        .distinct()
    )
    return (
        corpus.join(ev, "_h")
        .groupBy(id_col, eval_id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_overlap)
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    hasher: str = "portable",
    max_bucket_size: int | None = None,
    skip_empty: bool = False,
) -> DataFrame:
    """LSH candidate pairs: ``id_a < id_b`` sharing >= 1 band.
    Shuffle = O(docs * bands) band keys; the pair join happens per band
    bucket. Moderate skew is AQE's job; a DEGENERATE bucket (the corpus is
    one giant near-dup class) needs ``max_bucket_size`` — see
    ``cap_bucket_size``.

    ``skip_empty`` drops docs whose shingle set is empty (blank, NULL, or
    < shingle_k words) BEFORE signing: every such doc worldwide shares
    the one all-sentinel signature, so at corpus scale they form a single
    bucket of size O(N_empty) and the self-join goes quadratic in it —
    while no pair involving one can ever reach a POSITIVE Jaccard
    (jac(empty, x) is 0 or NULL). The guard predicate is the plain word
    split (no hashing). Left off by default here (raw candidate semantics
    unchanged); ``minhash_near_dups`` turns it on whenever
    ``threshold > 0``, where it is provably result-identical."""
    rows = n_hashes // bands
    if skip_empty:
        df = df.where(F.size(words(F.col(text_col))) >= shingle_k)
    sig = minhash_signature(word_shingles(F.col(text_col), shingle_k), n_hashes,
                            hasher=hasher)
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(lsh_band_keys(sig, bands, rows)).alias("band_idx", "band_hash"),
    )
    # NOTE (r7 negative result, kept for the record): a grouped
    # collect_list + explode pair generator evaluates the signature once
    # instead of once per self-join side, but measured 1.3-1.5x SLOWER
    # interleaved in one session — the interpreted array machinery costs
    # more than the second codegen'd signature pass at every tested
    # shape. The renamed-branch hash join stays.
    return (
        banded_pairs(banded, ["band_idx", "band_hash"], "_id",
                     max_bucket_size)
        .select("id_a", "id_b")
        .distinct()
    )


def _shingle_sets(df: DataFrame, text_col: str, id_col: str,
                  shingle_k: int, h32) -> DataFrame:
    """``_id, hs``: each document's distinct 32-bit word-shingle hashes."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(
            F.transform(word_shingles(F.col(text_col), shingle_k),
                        lambda s: h32(s))
        ).alias("hs"),
    )


def _with_shingle_sets(cands: DataFrame, df: DataFrame, text_col: str,
                       id_col: str, shingle_k: int, h32) -> DataFrame:
    """``cands`` (``id_a, id_b``) with both sides' shingle sets as
    ``hs_a, hs_b`` — the verify input of the near-dup operators.

    Hashes ONLY the docs that appear in a candidate pair: a semi-join
    against the (small) candidate id set before the per-shingle hashing —
    at near-dup-sparse corpora this hashes O(candidates) docs, not all of
    them (measured: the all-docs version cost +3 s at sf0.1)."""
    cand_ids = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        # no distinct (r7): a left-semi probe tolerates duplicate build
        # rows, so the dedup was one extra exchange+stage for nothing
    )
    sets = _shingle_sets(df.join(cand_ids, id_col, "leftsemi"), text_col,
                         id_col, shingle_k, h32)
    return (
        cands
        .join(sets.select(F.col("_id").alias("id_a"),
                          F.col("hs").alias("hs_a")), "id_a")
        .join(sets.select(F.col("_id").alias("id_b"),
                          F.col("hs").alias("hs_b")), "id_b")
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    hasher: str = "portable",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with exact Jaccard verification on LSH
    candidates only: ``id_a, id_b, jac``.

    Verification joins 32-bit shingle-HASH arrays, not the string shingles
    (r1 VERDICT #6): Jaccard over the distinct hash sets equals Jaccard over
    the string sets barring within-document hash32 collisions (~n²/2³³ per
    doc — negligible), and the candidate-verify shuffle carries 4-byte ints
    instead of ~20-byte strings per shingle.

    Empty-shingle docs are pruned before banding whenever ``threshold >
    0`` (r5): jac(empty, nonempty) = 0 and jac(empty, empty) = 0.0 (and
    NULL-text jaccard is NULL), so no pruned pair could have survived the
    threshold — identical output, minus the one degenerate all-sentinel
    bucket that would otherwise collect EVERY short/blank doc in the
    corpus (O(N_empty^2) pairs at web scale)."""
    cands = minhash_candidate_pairs(df, text_col, id_col, shingle_k,
                                    n_hashes, bands, hasher=hasher,
                                    max_bucket_size=max_bucket_size,
                                    skip_empty=threshold > 0)
    h32 = hash32_native if hasher == "native" else hash32
    return (
        _with_shingle_sets(cands, df, text_col, id_col, shingle_k, h32)
        .select("id_a", "id_b", jaccard(F.col("hs_a"), F.col("hs_b")).alias("jac"))
        .where(F.col("jac") >= threshold)
    )


def containment_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
    shingle_k: int = 3,
    hasher: str = "portable",
    max_doc_freq: int | None = None,
    min_shared: int = 1,
) -> DataFrame:
    """ASYMMETRIC-containment near-duplicate pairs: ``id_a, id_b,
    cont_a_in_b (= |A∩B|/|A|), cont_b_in_a, jac``, keeping pairs where
    ``max(cont_a_in_b, cont_b_in_a) >= threshold``.

    Jaccard-targeted MinHash LSH structurally misses SUBSET duplication —
    a 50-shingle document quoted inside a 5,000-shingle page has
    jac ~= 0.01 (no band ever agrees) but containment 1.0; wrapper pages,
    quote farms, and concatenated crawls are exactly this shape. So
    candidates come from the INVERTED INDEX instead of minhash bands:
    explode distinct shingle hashes to (id, h), self-join on ``h``, and
    count shared hashes per ``id_a < id_b`` pair (the classic
    prefix-filter / PPJoin candidate stage).

    Scale shape: the index join costs O(sum_h df(h)^2). ``max_doc_freq``
    drops corpus-ubiquitous shingles from the INDEX ONLY, bounding every
    term at max_doc_freq * df(h); verification recomputes the TRUE
    intersection from the full per-doc hash arrays (semi-joined to
    candidate ids), so the cap costs recall only for pairs whose EVERY
    shared shingle is ubiquitous — boilerplate overlap, not duplication.
    ``min_shared`` prunes single-trigram coincidence pairs before the
    (more expensive) verify join. Docs with fewer than ``shingle_k``
    words are excluded (containment denominator would be 0); NULL text
    behaves like blank text (``words``).

    Within-doc hash32 collisions fold two string shingles into one hash
    (~n^2/2^33 per doc — same accepted approximation as
    ``minhash_near_dups``'s verify stage)."""
    h32 = hash32_native if hasher == "native" else hash32
    base = df.where(F.size(words(F.col(text_col))) >= shingle_k)
    inv = (_shingle_sets(base, text_col, id_col, shingle_k, h32)
           .select("_id", F.explode("hs").alias("h")))
    if max_doc_freq is not None:
        hot = (inv.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
               .where(F.col("_df") > max_doc_freq).select("h"))
        inv = inv.join(hot, "h", "left_anti")
    cands = (
        banded_pairs(inv, ["h"], "_id", None)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .where(F.col("_shared") >= min_shared)
        .select("id_a", "id_b")
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))

    def body(i: Column) -> Column:
        na, nb = F.size(F.col("hs_a")), F.size(F.col("hs_b"))
        return F.struct(
            (i / na).alias("cont_a_in_b"),
            (i / nb).alias("cont_b_in_a"),
            (i / (na + nb - i)).alias("jac"),
        )

    return (
        _with_shingle_sets(cands, base, text_col, id_col, shingle_k, h32)
        .select("id_a", "id_b", bind(inter, body).alias("_m"))
        .select("id_a", "id_b", "_m.cont_a_in_b", "_m.cont_b_in_a", "_m.jac")
        .where(F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
               >= threshold)
    )


def lsh_band_table(sigs: DataFrame, id_col: str = "doc_id",
                   sig_col: str = "sig", bands: int = 4,
                   rows: int = 4, sentinel: int = H32_SENTINEL) -> DataFrame:
    """The persistable LSH index: ``id_col, band_idx, band_hash`` from a
    materialized signature table (``minhash_signatures_df`` output). This
    is the artifact a production corpus stores next to the signatures —
    incremental batches join against IT instead of re-signing 10^12 docs.

    All-sentinel signatures (empty shingle set: NULL/blank/< k words) are
    pruned here: every such doc worldwide shares one signature, so they
    form a single degenerate bucket that matches every other empty doc
    with estimated Jaccard 1.0 while the true Jaccard is 0 — at web scale
    that bucket is O(N_empty) rows and any join against it goes
    quadratic. ``sig[1]`` alone decides emptiness: both hash families
    produce values strictly below their sentinel, so the sentinel
    survives position 1 iff no shingle existed. ``sentinel`` must match
    the family that built the signatures — ``H32_SENTINEL`` (default)
    for 'native', ``MINHASH_P`` for 'portable' (portable values reach
    MINHASH_P-1 > 2^32, so the native sentinel would mis-prune the
    ~15/2^32 sliver of legitimate portable minima above 2^32).

    Scale shape: one narrow projection + explode of (id, band_idx,
    band_hash) — no shuffle. Write it bucketed by ``band_hash``
    (``.write.bucketBy(n, 'band_hash')``) and the incremental join
    shuffles ONLY the new batch."""
    sig = F.col(sig_col)
    return (
        sigs.where(F.element_at(sig, 1) < F.lit(sentinel))
        .select(
            F.col(id_col),
            F.posexplode(lsh_band_keys(sig, bands, rows))
            .alias("band_idx", "band_hash"),
        )
    )


def _sig_agreement(a: Column, b: Column, n_hashes: int) -> Column:
    """Estimated Jaccard = fraction of agreeing minhash positions.
    Deliberately HOF-free (n plain equality terms, whole-stage-codegen
    eligible) — ``a``/``b`` are post-join attribute references, so the
    n-fold textual repetition re-reads a column, it does not recompute an
    expression (the bind() rule targets expression arguments)."""
    terms = [
        F.when(F.element_at(a, j + 1) == F.element_at(b, j + 1), 1).otherwise(0)
        for j in range(n_hashes)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return (total / F.lit(float(n_hashes))).cast("double")


def incremental_near_dups(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str,
    id_col: str,
    corpus_id_col: str = "doc_id",
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    hasher: str = "portable",
    min_est_jac: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup matches of a NEW batch against an EXISTING
    corpus signature table: ``new_id, corpus_id, est_jac``.

    The production shape at 10^12 docs: the corpus is never re-scanned —
    it is represented by its persisted ``(id, sig)`` table (~8·n_hashes
    bytes/doc, from ``minhash_signatures_df``), and each incoming batch
    is signed, banded, and joined against the corpus band table. Because
    corpus TEXT is unavailable by design, verification uses the unbiased
    MinHash estimator (fraction of agreeing signature positions,
    E[est] = true Jaccard) instead of exact shingle Jaccard —
    ``min_est_jac`` is a threshold on that estimate; with 16 hashes its
    std-err is ~0.125 at jac 0.5, so use it as a candidate gate, not a
    precision cut.

    Plan shape: batch side = one projection (sign) + one explode (band);
    corpus side = ``lsh_band_table`` (explode only, empty-sig pruned);
    candidates = equi-join on (band_idx, band_hash) — never cartesian;
    verify = one join back to each side's signatures + n codegen'd
    equality terms. Shuffle = O((batch + corpus) · bands) narrow rows,
    and the corpus-side shuffle disappears entirely when the band table
    is stored bucketed by band_hash. Empty-shingle batch docs are pruned
    pre-banding (no pair involving one can reach a positive TRUE
    Jaccard; mirrors ``minhash_near_dups``'s threshold>0 prune)."""
    rows = n_hashes // bands
    sentinel = MINHASH_P if hasher == "portable" else H32_SENTINEL
    new_sigs = (
        new_df.where(F.size(words(F.col(text_col))) >= shingle_k)
        .select(
            F.col(id_col).alias("_new_id"),
            minhash_signature(word_shingles(F.col(text_col), shingle_k),
                              n_hashes, hasher=hasher).alias("_nsig"),
        )
    )
    new_banded = new_sigs.select(
        "_new_id",
        F.posexplode(lsh_band_keys(F.col("_nsig"), bands, rows))
        .alias("band_idx", "band_hash"),
    )
    corpus_banded = lsh_band_table(
        corpus_sigs, id_col=corpus_id_col, bands=bands, rows=rows,
        sentinel=sentinel,
    ).withColumnRenamed(corpus_id_col, "_corpus_id")
    corpus_banded = cap_bucket_size(
        corpus_banded, ["band_idx", "band_hash"], "_corpus_id",
        max_bucket_size)
    cands = (
        new_banded.join(corpus_banded, on=["band_idx", "band_hash"])
        .select("_new_id", "_corpus_id")
        .distinct()
    )
    csigs = corpus_sigs.select(
        F.col(corpus_id_col).alias("_corpus_id"), F.col("sig").alias("_csig"))
    return (
        cands.join(new_sigs, "_new_id")
        .join(csigs, "_corpus_id")
        .select(
            F.col("_new_id").alias("new_id"),
            F.col("_corpus_id").alias("corpus_id"),
            _sig_agreement(F.col("_nsig"), F.col("_csig"), n_hashes)
            .alias("est_jac"),
        )
        .where(F.col("est_jac") >= min_est_jac)
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_sigs: DataFrame,
    text_col: str,
    id_col: str,
    **kwargs,
) -> DataFrame:
    """Per-new-doc ingest decision against an existing corpus:
    ``new_id, keep, dup_of, est_jac`` — EXACTLY one row per input batch
    row (the curation-decision contract; NULL/blank/short docs that the
    near-dup stage prunes come back with keep=true, dup_of NULL).

    ``dup_of`` = the smallest corpus id among matches clearing
    ``min_est_jac`` (deterministic canonical), ``est_jac`` = the best
    estimate over those matches; keep = no match. Composable with
    batch-internal dedup: run ``minhash_near_dups`` + ``connected_
    components`` WITHIN the batch first, then this against the corpus —
    the two prunes are independent.

    Scale: the matches frame is bounded by actual contamination; the
    final left join shuffles (id, match) pairs only."""
    matches = incremental_near_dups(new_df, corpus_sigs, text_col, id_col,
                                    **kwargs)
    best = matches.groupBy("new_id").agg(
        F.min("corpus_id").alias("dup_of"),
        F.max("est_jac").alias("est_jac"),
    )
    return (
        new_df.select(F.col(id_col).alias("new_id"))
        .join(best, "new_id", "left")
        .select(
            "new_id",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
            "est_jac",
        )
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 50,
    stats_out: dict | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph — the CLUSTERING
    step of a dedup pipeline (pairs -> clusters -> keep one canonical doc
    per cluster): ``node, component`` where ``component`` is the smallest
    node id reachable from ``node`` (the canonical id).

    Algorithm: min-label propagation with hooking and pointer jumping.
    Labels seed at ``min(node, neighbours)``. Each round is one join plus
    one aggregate over the symmetric edge list with a self-loop per node:
    the new label is the min over (self ∪ neighbours), and the self-loop
    row carries the node's current label, so the same aggregate counts
    the nodes whose label dropped. A round that changed labels is
    followed by one hook-and-jump pass: every node whose label dropped
    offers its new label to the node its old label named (the root its
    tree hangs from), then ``label(v) <- label(label(v))`` (every label
    is itself a node id). Reach then grows geometrically whatever the id
    order along a path: a 200-node chain converges in <= ceil(log2(200))
    + 1 = 9 rounds, in id order and in each of 1,000 simulated shuffles
    of it, where jumping without the hook took 75 rounds in the median
    shuffle and up to 164. A round that changes nothing proves the
    fixpoint: labels are then equal across every edge, hence constant
    per component, and no label ever exceeds its node, so each component
    carries its minimum id. A graph that converges on its first probe
    never hooks or jumps; an empty edge set returns at once.

    Scale discipline: the graph frames are right-sized once from the
    measured edge count; each round's labels are ``localCheckpoint``'d
    (an iterative persist chain nests every prior round's plan and OOMs
    the driver via the plan STRING alone) and the previous round's blocks
    are freed, so at most two label frames are held. The convergence
    probe is an observed sum on the action that fills the round's
    checkpoint (``sources.materialize``: one scalar to the driver per
    round, never rows). The session's conf is never touched.
    ``stats_out``, when passed, receives ``{"rounds": n}``; a graph that
    needs more than ``max_iterations`` rounds raises ``RuntimeError``."""
    if max_iterations < 2:
        # round 1 is the seed; fewer than two rounds never probes, so
        # convergence could never be shown
        raise ValueError(
            f"connected_components: max_iterations must be >= 2, got "
            f"{max_iterations}")
    spark = pairs.sparkSession
    ckpts = Checkpoints(spark)

    # symmetric edges PLUS a self-loop per node: the self-loops ride the
    # same distinct and make a round a single join + groupBy — min over
    # (self ∪ neighbours), with the node's own label on its self-loop row
    edges, eids = ckpts.take(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"),
                         F.col(a_col).alias("dst")))
        .unionByName(
            pairs.select(F.col(a_col).alias("src"),
                         F.col(a_col).alias("dst")))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"),
                         F.col(b_col).alias("dst")))
        .distinct(),
        eager=False,  # the count below materializes it in the same job
    )
    # right-size the graph frames ONCE: the pair graph is sparse relative
    # to the corpus (most docs never pair), and localCheckpoint FREEZES
    # partitioning, so a mega-corpus whose graph collapsed to thousands
    # of edges would carry thousands of near-empty tasks into EVERY round
    # at production partition counts. The count is one cheap job over
    # already-materialized checkpoint blocks.
    n_edges = edges.count()
    if n_edges == 0:
        ckpts.free(eids)
        if stats_out is not None:
            stats_out["rounds"] = 0
        node_t = pairs.schema[a_col].dataType
        return local_frame(spark, [], _T.StructType([
            _T.StructField("node", node_t), _T.StructField("component", node_t),
        ]))
    target = max(1, min(edges.rdd.getNumPartitions(),
                        (n_edges // 50_000) + 1))
    try:
        pending_free = frozenset()
        if target < edges.rdd.getNumPartitions():
            # lazy resize: materialized by the first probe job; the old
            # edges blocks can only be freed AFTER that (localCheckpoint
            # truncates lineage — freeing a parent before the child
            # materializes would lose the data), so the free is deferred
            resized, rids = ckpts.take(edges.repartition(target, "dst"),
                                       eager=False)
            pending_free = eids
            edges, eids = resized, rids
        # seed: min over (self ∪ neighbours) of the identity labeling.
        # LAZY checkpoint: the first probe job materializes it too.
        labels, lids = ckpts.take(
            edges.groupBy(F.col("src").alias("node"))
            .agg(F.min("dst").alias("component")),
            eager=False,
        )
        converged = False
        rounds = 1
        while rounds < max_iterations:
            step, step_ids = ckpts.take(
                edges.join(labels, edges["dst"] == labels["node"])
                .groupBy(F.col("src").alias("node"))
                .agg(F.min("component").alias("component"),
                     F.min(F.when(F.col("src") == F.col("dst"),
                                  F.col("component"))).alias("_own")),
                eager=False,
            )
            rounds += 1
            # ONE action fills the checkpoint and reads the change count
            # (any orderable id type: ids can be strings)
            changed = materialize(step, F.sum(
                (F.col("component") < F.col("_own")).cast("int"))
                .alias("chg"))["chg"] or 0
            if pending_free:
                ckpts.free(pending_free)  # resize input; now materialized past
                pending_free = frozenset()
            ckpts.free(lids)
            labels, lids = step.drop("_own"), step_ids
            if changed == 0:
                converged = True
                break
            # hook, then jump, on the materialized step (reading a LAZY
            # frame twice would recompute the whole step). Hook: each
            # node whose label dropped offers the new label to the node
            # its OLD label named, so the whole tree hanging from that
            # node moves with it. Jump: label(v) <- label(label(v)), the
            # label's own row found in a window over the label key (total:
            # label values are node ids; coalesce is belt-and-braces).
            # Both are aggregates over unions, never self-joins: a
            # checkpoint keeps its plan's size estimate, which a join
            # MULTIPLIES, so a self-join per round squares it and the
            # driver's BigInt stats arithmetic grows as 2^rounds digits.
            hooked = (
                step.select("node", "component").unionByName(
                    step.where(F.col("component") < F.col("_own"))
                    .select(F.col("_own").alias("node"), "component"))
                .groupBy("node").agg(F.min("component").alias("component")))
            by_label = Window.partitionBy("_k")
            jumped, jumped_ids = ckpts.take(
                hooked.select(F.col("component").alias("_k"), "node",
                              F.lit(None).alias("_p"))
                .unionByName(hooked.select(
                    F.col("node").alias("_k"), F.lit(None).alias("node"),
                    F.col("component").alias("_p")))
                .select("node", F.coalesce(F.max("_p").over(by_label),
                                           F.col("_k")).alias("component"))
                .where(F.col("node").isNotNull()))
            ckpts.free(lids)
            labels, lids = jumped, jumped_ids
    except BaseException:
        # a failed call leaves no blocks behind — including the
        # pre-resize edges, which only the first probe would free
        ckpts.free_all()
        raise
    ckpts.free(eids)
    if stats_out is not None:
        stats_out["rounds"] = rounds
    if not converged:
        # returning the partial labels would silently keep several
        # "canonical" docs per giant cluster — fail loudly; a chain
        # needing >max_iterations rounds means the corpus has a very
        # long transitive near-dup path
        ckpts.free(lids)
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; the pair graph has a longer transitive chain — "
            "raise max_iterations"
        )
    return labels


SIMHASH_BITS = 32


def _simhash_from_hashes(hashes: Column, bits: int) -> Column:
    """Signature from a (bound) per-token hash array in ONE fold.

    bit b is set iff sum over tokens of (+-1 per bit b of the hash) > 0,
    i.e. iff 2 * count_of_set_bits_b > n_tokens. A per-bit loop of
    ``F.aggregate`` calls builds ``bits`` separate folds — thousands of
    py4j Column ops on the driver (~2 s to CONSTRUCT the 64-bit tree,
    measured) and ``bits`` interpreted passes over the array per row.
    This form folds once into a ``bits``-long count vector against a
    mask-array literal, then reduces counts to the signature — a
    constant-size expression tree regardless of ``bits``. Bit 63's mask
    is the negative sentinel (``1 << 63`` overflows the signed long
    literal).

    Trade-off note (r4, the minhash lesson): the fold allocates ~3 small
    arrays per TOKEN in interpreted eval, which can GC-thrash a long-lived
    session at very high row counts; the per-bit-transform alternative
    allocates per ROW but costs ``bits`` py4j trees to build. At 64 bits
    the build cost dominates (2 s per invocation), so the fold wins here;
    measured flat in the bench session at document scale."""
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)]

    def body(n: Column) -> Column:
        counts = F.aggregate(
            hashes,
            F.array_repeat(F.lit(0), bits),
            lambda acc, h: F.zip_with(
                acc,
                F.transform(lit_longs(masks),
                            lambda m: F.when(h.bitwiseAND(m) != 0, 1)
                                       .otherwise(0)),
                lambda a, x: a + x,
            ),
        )
        return F.aggregate(
            F.zip_with(
                counts, lit_longs(masks),
                lambda cnt, m: F.when(cnt * 2 > n, m)
                                .otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(x),
        )

    return bind(F.size(hashes), body)


def simhash(c: Column, bits: int = SIMHASH_BITS,
            hasher: str = "portable") -> Column:
    """SimHash over whitespace tokens: bit b is the sign of
    sum over tokens of (+1 if bit b of hash32(token) else -1).
    One projection; DuckDB twin uses the same bit arithmetic. The per-token
    hash array is let-bound — computed once, not once per bit.
    ``hasher='native'`` swaps in masked xxhash64 (no oracle twin)."""
    h32 = hash32_native if hasher == "native" else hash32
    # coalesce: NULL text -> signature 0 (the per-bit form's otherwise(0)
    # semantics, and the DuckDB twin's coalesce(list_sum(..), 0)) —
    # without it the fold propagates NULL and near-dup banding silently
    # drops NULL-text rows (r4 review)
    return F.coalesce(
        bind(F.transform(words(c), lambda t: h32(t)),
             lambda hashes: _simhash_from_hashes(hashes, bits)),
        F.lit(0).cast("long"),
    )


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash64(c: Column, hasher: str = "portable") -> Column:
    """Wide SimHash — the 100-TB-scale signature (r3 VERDICT #4).

    ``hasher='native'``: per-token ``xxhash64`` -> full 64-bit signature
    (sign bit included; the signed long is just a 64-bit pattern).
    ``hasher='portable'``: per-token ``hash60`` (15-hex-char md5 prefix,
    DuckDB twin) -> 60 effective bits, top 4 always zero.

    One let-bound projection through ``_simhash_from_hashes`` — a single
    mask-vector fold whose expression tree is constant-size in the bit
    width (the per-bit-aggregate form cost ~2 s of driver py4j tree
    construction per invocation at 64 bits, measured)."""
    from schisma_spark.functions.portable import hash60

    if hasher == "native":
        bits, per_tok = 64, (lambda t: F.xxhash64(t))
    else:
        bits, per_tok = 60, hash60

    # NULL text -> 0, matching simhash() and the oracle twins (r4 review)
    return F.coalesce(
        bind(F.transform(words(c), per_tok),
             lambda hashes: _simhash_from_hashes(hashes, bits)),
        F.lit(0).cast("long"),
    )


def simhash64_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hasher: str = "portable",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """64-bit SimHash near-duplicate pairs with 16-BIT bands — the
    scale-correct banding (r3 VERDICT #3/#4): ``id_a, id_b, hamming``.

    Bucket-cardinality math: banding keys candidates on
    (band_idx, band_val), so the number of distinct buckets bounds the
    parallel fan-out AND the per-bucket occupancy. 8-bit bands of a
    32-bit signature give <= 4 * 256 = 1,024 buckets total — at N docs
    every bucket holds ~N/256 rows and the self-join builds
    O(N^2/256) pairs REGARDLESS of corpus content; no cap can fix that
    without discarding nearly all recall. 16-bit bands give
    4 * 65,536 = 262,144 buckets (~N/65,536 rows per bucket,
    O(N^2/65,536) worst-case pairs — 256x less), and the band value
    space grows with signature width if ever needed again. The
    pigeonhole guarantee is unchanged: d <= 3 differing bits cannot
    land in 4 distinct 16-bit bands, so near-dup pairs share at least
    one band value; exact ``bit_count(xor)`` verifies.

    Portable hasher: 60-bit signatures leave the top band (bits 48..63)
    with 12 effective bits (4,096 values) — still 16x the 8-bit scheme.
    Production path is ``hasher='native'`` (full 64 bits, fully
    code-generated xxhash64).
    """
    cols = cached_column(
        ("simhash64", text_col, hasher, id_col),
        lambda: (F.col(id_col).alias("_id"),
                 simhash64(F.col(text_col), hasher=hasher).alias("sig")))
    return hamming_near_dups(df.select(*cols), "sig", "_id",
                             max_hamming=max_hamming,
                             max_bucket_size=max_bucket_size)


def hamming_near_dups(
    df: DataFrame,
    sig_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
    band_bits: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Generic banded-Hamming near-dup pairs over ANY int64 signature
    column (text simhash, image perceptual hash, ...): ``id_a, id_b,
    hamming``. Pigeonhole: ``max_hamming < n_bands`` differing bits
    cannot land in ``n_bands`` disjoint bands, so every qualifying pair
    shares >= 1 (band_idx, band_val) key; exact ``bit_count(xor)``
    verifies. See ``simhash64_near_dups`` for the band-cardinality
    sizing math. ``max_hamming >= n_bands`` VOIDS the guarantee — the
    pair set would be silently incomplete — so it raises instead
    (r4 ADVICE); widen ``n_bands`` (shrinking ``band_bits``) for a
    looser radius."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} voids the pigeonhole guarantee "
            f"with n_bands={n_bands} (need max_hamming < n_bands): the "
            "banded pair set would be silently incomplete. Raise n_bands "
            "(shrinking band_bits) for a looser radius."
        )
    def build() -> tuple:
        mask = (1 << band_bits) - 1
        bands = F.array(*[
            F.shiftright("sig", band_bits * b).bitwiseAND(F.lit(mask))
            .cast("int")
            for b in range(n_bands)
        ])
        return (
            (F.col(id_col).alias("_id"), F.col(sig_col).alias("sig")),
            (F.col("_id"), F.col("sig"),
             F.posexplode(bands).alias("band_idx", "band_val")),
            (F.col("id_a"), F.col("id_b"),
             F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
             .alias("hamming")),
            F.col("hamming") <= max_hamming,
        )

    sig, banded, out, keep = cached_column(
        ("hamming_near_dups", id_col, sig_col, n_bands, band_bits,
         max_hamming), build)
    return (
        banded_pairs(df.select(*sig).select(*banded),
                     ["band_idx", "band_val"], "_id", max_bucket_size)
        .select(*out)
        .where(keep)
        .distinct()
    )


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hasher: str = "portable",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: ``id_a, id_b, hamming`` with
    ``hamming <= max_hamming`` — ``hamming_near_dups`` over the 32-bit
    ``simhash`` with 4 byte-bands (``n_bands=4, band_bits=8``).

    Pigeonhole banding: two 32-bit signatures within Hamming distance
    d <= 3 must agree on at least one of the 4 bytes (4 differing bits
    cannot land in 4 distinct bytes when d < 4), so candidates are pairs
    sharing ANY byte-band — shuffle O(docs * 4), never all-pairs — and the
    exact ``bit_count(xor)`` verifies. ``max_hamming`` above 3 VOIDS the
    guarantee (the banded pair set goes silently incomplete), so it
    raises (r4 ADVICE); use ``hamming_near_dups`` with more, narrower
    bands if a looser radius ever matters.

    SCALE CEILING (r3 VERDICT): 8-bit bands take <= 256 values, so bucket
    occupancy grows O(N) and the self-join O(N^2/256) — fine at test SF,
    wrong at 10^12 docs. The production path is ``simhash64_near_dups``
    (16-bit bands, 65,536 values per band); this 32-bit variant stays as
    the byte-band oracle twin.
    """
    cols = cached_column(
        ("simhash", text_col, SIMHASH_BITS, hasher, id_col),
        lambda: (F.col(id_col).alias("_id"),
                 simhash(F.col(text_col), hasher=hasher).alias("sig")))
    return hamming_near_dups(df.select(*cols), "sig", "_id",
                             max_hamming=max_hamming, n_bands=4, band_bits=8,
                             max_bucket_size=max_bucket_size)


def _window_hashes(c: Column, k: int, hasher: str) -> Column:
    """POSITIONAL word k-gram hashes — element i (0-based) is the hash of
    the window starting at word i. Unlike :func:`word_shingles` this keeps
    every occurrence in order (no array_distinct): position is the point.
    NULL/short text -> empty array. The word array is let-bound (bind) —
    the k element_at references would otherwise re-split per element."""
    if hasher == "native":
        def hash_fn(s: Column) -> Column:
            return F.xxhash64(s)
    else:
        hash_fn = hash32

    def body(w: Column) -> Column:
        n = F.size(w)
        wins = F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0))),
            lambda i: hash_fn(F.concat_ws(
                " ", *[F.element_at(w, (i + j).cast("int"))
                       for j in range(k)])),
        )
        # sequence(1, 0) would generate DESCENDING [1, 0] — guard like
        # word_shingles does
        return F.when(n < k, F.array().cast("array<long>")).otherwise(wins)

    return F.coalesce(bind(words(c), body),
                      F.array().cast("array<long>"))


def _dup_window_hashes(pos, id_col: str, min_docs: int):
    """Window hashes occurring in >= min_docs DISTINCT documents.

    min_docs == 2 (the standard setting) avoids the distinct-aggregate
    plan entirely: ">= 2 distinct ids" is exactly min(id) != max(id) —
    plain partial-combining aggregates that collapse map-side, ONE
    exchange of ~|distinct hashes| x partitions rows instead of the
    two-exchange (h, id)-dedup-then-count shape (which at corpus scale
    re-shuffles the whole exploded window stream)."""
    if min_docs <= 1:
        return pos.select("_h").distinct()
    if min_docs == 2:
        return (
            pos.groupBy("_h")
            .agg(F.min(F.col(id_col)).alias("_a"),
                 F.max(F.col(id_col)).alias("_b"))
            .where(F.col("_a") != F.col("_b"))
            .select("_h")
        )
    return (
        pos.groupBy("_h")
        .agg(F.countDistinct(F.col(id_col)).alias("_df"))
        .where(F.col("_df") >= min_docs)
        .select("_h")
    )



def dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    min_docs: int = 2,
    hasher: str = "portable",
) -> DataFrame:
    """CROSS-document duplicated-span statistics — the Spark-shaped
    substitute for suffix-array exact-substring dedup (the "remove exact
    duplicated >= 50-token substrings" pass of Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better'): a word
    k-gram window is *duplicated* when it occurs in >= ``min_docs``
    DISTINCT documents; each document reports how much of it is covered
    by duplicated windows. Complements the in-document repetition signals
    (``dup_word_frac``/``dup_line_frac`` measure a doc repeating itself;
    this measures the corpus repeating across docs — boilerplate spans,
    syndicated passages, licence blocks) and MinHash near-dups (which
    need whole-doc similarity; a 50-token span shared by two long,
    otherwise-unrelated pages never reaches a minhash band).

    Output, one row per input document (every-row contract — NULL/short
    texts report zeros)::

        id_col, n_words, n_windows, n_dup_windows, dup_tokens,
        dup_token_frac

    ``dup_tokens`` is the size of the UNION of the duplicated windows'
    token intervals [pos, pos+k): computed with one lag() over positions
    per doc — since starts are sorted and all intervals share length k,
    the union increment is ``least(k, pos - lag(pos))`` (k for the first
    window). Overlapping duplicated windows therefore never double-count
    a token. ``dup_token_frac = dup_tokens / n_words``.

    Scale shape (10^12 docs): the corpus explodes to (id, pos, hash) —
    narrow longs, never text. One hash aggregate on the window hash
    (count_distinct doc partials map-side) builds the duplicated-hash
    set; one equi-join (AQE broadcasts it when small; sort-merge when
    boilerplate is rampant — still linear) filters occurrences; one
    window+aggregate on the doc id folds coverage. A document's windows
    land in one task — bounded by doc length, not corpus size. No
    cartesian anywhere (plan-guarded in tests).

    ``hasher='portable'`` is the DuckDB-oracle-able md5 path;
    ``'native'`` (xxhash64, 64-bit) is the production default at
    10^12 x 10^3 windows where 32-bit collisions would over-flag."""
    # the report branch derives n_windows ARITHMETICALLY from n_words
    # (greatest(n_words-k+1, 0) == size of the window array by
    # construction): referencing the hash array in both plan branches
    # would re-run the full md5 window pass per document — Spark does no
    # cross-branch CSE (review finding, this file's bench-dominant cost)
    base = df.select(
        F.col(id_col),
        F.size(words(F.col(text_col))).alias("n_words"),
    )
    pos = df.select(
        F.col(id_col),
        F.posexplode(_window_hashes(F.col(text_col), k, hasher))
        .alias("_pos", "_h"))
    dup = _dup_window_hashes(pos, id_col, min_docs)
    w = Window.partitionBy(id_col).orderBy("_pos")
    prev = F.lag("_pos").over(w)
    inc = F.coalesce(F.least(F.lit(k), F.col("_pos") - prev), F.lit(k))
    per_doc = (
        pos.join(dup, "_h")
        .select(F.col(id_col), inc.alias("_inc"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_windows"),
             F.sum("_inc").alias("dup_tokens"))
    )
    n_dup = F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long")
    toks = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    return (
        base.select(
            id_col, "n_words",
            F.greatest(F.col("n_words") - (k - 1), F.lit(0))
            .alias("n_windows"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_windows").cast("long").alias("n_windows"),
            n_dup.alias("n_dup_windows"),
            toks.alias("dup_tokens"),
            F.when(F.col("n_words") > 0,
                   F.round(toks / F.col("n_words"), 6))
            .otherwise(F.lit(0.0)).alias("dup_token_frac"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    min_docs: int = 2,
    hasher: str = "portable",
) -> DataFrame:
    """The REMOVAL transform completing :func:`dup_spans` (the actual
    exact-substring-dedup pass of Lee et al. 2022): drop every token
    covered by a cross-document duplicated k-gram window and reassemble
    the survivors in order. One row per input document::

        id_col, n_tokens, n_removed, clean_text

    ``clean_text`` is the NORMALIZED reassembly (lowercased,
    single-space — same token stream the detector hashed; byte-faithful
    surgery would key on character offsets instead); documents with
    nothing removed reproduce their normalized text verbatim, empty/NULL
    docs yield ``''``.

    Scale shape: detection is :func:`dup_spans`'s (narrow explode + one
    hash agg + one equi-join); removal adds a covered-position explode
    (x k per duplicated window — bounded by dup density), a left-anti
    join of token positions against covered positions co-partitioned on
    (id, pos), and one per-doc sort_array reassembly (a doc's tokens in
    one task, bounded by doc length). Everything relational — no
    per-row Python."""
    base = df.select(
        F.col(id_col),
        words(F.col(text_col)).alias("_w"),
        _window_hashes(F.col(text_col), k, hasher).alias("_wh"),
    )
    pos = base.select(id_col, F.posexplode("_wh").alias("_pos", "_h"))
    dup = _dup_window_hashes(pos, id_col, min_docs)
    covered = (
        pos.join(dup, "_h")
        .select(id_col,
                F.explode(F.sequence(F.col("_pos"),
                                     F.col("_pos") + (k - 1)))
                .alias("_t"))
        # no distinct (r7): a left-anti probe side tolerates duplicate
        # (id, pos) rows — overlapping windows cover the same token more
        # than once — so the dedup aggregation was a pure extra pass
        # (result-identical, A/B ~0.95x here, strictly less work at
        # scale; the join shuffle itself is unchanged)
    )
    toks = base.select(id_col, F.posexplode("_w").alias("_t", "_term"))
    kept = toks.join(covered, [id_col, "_t"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_t", "_term"))),
                lambda s: s.getField("_term"),
            ),
        ).alias("_clean"),
    )
    n_tok = F.size("_w").cast("long")
    return (
        base.select(id_col, n_tok.alias("n_tokens"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            (F.col("n_tokens")
             - F.coalesce(F.col("_n_kept"), F.lit(0)).cast("long"))
            .alias("n_removed"),
            F.coalesce(F.col("_clean"), F.lit("")).alias("clean_text"),
        )
    )
