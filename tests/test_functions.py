"""Text / dedup / similarity function tests over documents+embeddings."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from schisma_spark.functions import (
    brute_force_topk,
    exact_dup_groups,
    jaccard,
    lang_id,
    minhash_signature,
    quality_score,
    token_count_regex,
    token_count_ws,
    word_shingles,
)
from schisma_spark.functions.dedup import (
    hamming32,
    minhash_near_dups,
    simhash,
)
from schisma_spark.functions.similarity import cosine_sim, lsh_ann_topk

SF = "/root/testdata/sf0.001"


def test_token_counts(spark):
    df = spark.createDataFrame(
        [Row(t="hello world foo"), Row(t="  "), Row(t="a1b, c!")]
    )
    got = df.select(
        token_count_ws(F.col("t")).alias("ws"),
        token_count_regex(F.col("t")).alias("re"),
    ).collect()
    assert [r["ws"] for r in got] == [3, 0, 2]
    # 'a1b, c!' -> a,1,b,',',c,'!' = 6
    assert got[2]["re"] == 6


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            Row(t="the cat and the dog that it is"),
            Row(t="der hund ist nicht mit der katze"),
            Row(t="le chat et les chiens dans une maison"),
            Row(t="xyz qqq zzz"),
        ]
    )
    got = [r[0] for r in df.select(lang_id(F.col("t"))).collect()]
    assert got == ["en", "de", "fr", "und"]


def test_quality_score_range(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    qs = docs.select(quality_score(F.col("text")).alias("q"))
    mn, mx = qs.agg(F.min("q"), F.max("q")).collect()[0]
    assert 0.0 <= mn <= mx <= 1.0


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([Row(a="a b c d", b="a b c e")])
    out = df.select(
        jaccard(
            word_shingles(F.col("a"), 3), word_shingles(F.col("b"), 3)
        ).alias("j")
    ).collect()[0]
    # shingles a: {a b c, b c d}; b: {a b c, b c e}; jac = 1/3
    assert out["j"] == pytest.approx(1 / 3)


def test_minhash_similar_docs_share_hashes(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, t="the quick brown fox jumps over the lazy dog today"),
            Row(id=2, t="the quick brown fox jumps over the lazy dog tonight"),
            Row(id=3, t="completely different words appear in this one text"),
        ]
    )
    sig = minhash_signature(word_shingles(F.col("t"), 3), 16)
    rows = {r["id"]: r["s"] for r in df.select("id", sig.alias("s")).collect()}
    agree_12 = sum(a == b for a, b in zip(rows[1], rows[2]))
    agree_13 = sum(a == b for a, b in zip(rows[1], rows[3]))
    assert agree_12 > agree_13
    assert agree_12 >= 8  # ~ jaccard (7/11) * 16


def test_minhash_near_dups_finds_planted(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    planted = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    df = docs.unionAll(planted)
    pairs = minhash_near_dups(df, "text", "doc_id", threshold=0.9)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(r["doc_id"], r["doc_id"] + 100000) for r in docs.limit(5).collect()}
    assert expected <= found


def test_exact_dup_groups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.unionAll(docs.limit(3).withColumn("doc_id", F.col("doc_id") + 7777))
    g = exact_dup_groups(df, "text", "doc_id")
    assert g.count() == 3
    assert g.agg(F.min("min_id")).collect()[0][0] == 0


def test_simhash_hamming(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, t="the quick brown fox jumps over the lazy dog"),
            Row(id=2, t="the quick brown fox jumps over the lazy cat"),
            Row(id=3, t="unrelated totally separate vocabulary entirely here"),
        ]
    )
    sims = {r["id"]: r["s"] for r in df.select("id", simhash(F.col("t")).alias("s")).collect()}
    d12 = bin(sims[1] ^ sims[2]).count("1")
    d13 = bin(sims[1] ^ sims[3]).count("1")
    assert d12 < d13
    got = (
        df.select(simhash(F.col("t")).alias("s"))
        .crossJoin(df.select(simhash(F.col("t")).alias("s2")))
        .select(hamming32(F.col("s"), F.col("s2")).alias("d"))
        .agg(F.max("d"))
        .collect()[0][0]
    )
    assert got == max(
        bin(a ^ b).count("1") for a in sims.values() for b in sims.values()
    )


def test_cosine_and_bruteforce_topk(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # cosine of a vector with itself is 1
    self_cos = emb.limit(3).select(
        cosine_sim(F.col("embedding"), F.col("embedding")).alias("c")
    ).collect()
    assert all(abs(r["c"] - 1.0) < 1e-9 for r in self_cos)

    probes = emb.where(F.col("vec_id") < 2)
    out = brute_force_topk(emb, probes, "vec_id", "embedding", k=3)
    rows = out.collect()
    assert len(rows) == 6
    per_probe = {}
    for r in rows:
        per_probe.setdefault(r["probe_id"], []).append((r["rank"], r["cos"]))
    for ranks in per_probe.values():
        ranks.sort()
        cs = [c for _, c in ranks]
        assert cs == sorted(cs, reverse=True)


def test_lsh_ann_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, probes, "vec_id", "embedding", k=5)
    approx = lsh_ann_topk(emb, probes, "vec_id", "embedding", dim=64, k=5,
                          n_tables=8, n_planes=2)
    e = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # these synthetic vectors are weakly correlated (top cos ~0.35), so a
    # wide-table config is needed for recall; still approximate
    assert recall > 0.5


def test_minhash_near_dups_native_hasher(spark):
    """hasher='native' (masked xxhash64 production path) finds the same
    planted exact duplicate with jac == 1.0."""
    from pyspark.sql import Row
    from schisma_spark.functions.dedup import minhash_near_dups

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [Row(doc_id=1, text=base), Row(doc_id=2, text=base),
            Row(doc_id=3, text="completely different words entirely here "
                               "nothing shared at all with anyone")]
    df = spark.createDataFrame(rows)
    for hasher in ("portable", "native"):
        out = minhash_near_dups(df, "text", "doc_id", threshold=0.9,
                                hasher=hasher).collect()
        assert [(r["id_a"], r["id_b"], r["jac"]) for r in out] == [(1, 2, 1.0)]


def test_cosine_near_dups_planted(spark):
    """LSH-bucketed embedding near-dup: planted exact duplicate found with
    cos == 1.0; orthogonal vectors produce no pair."""
    from pyspark.sql import Row
    from schisma_spark.functions.similarity import cosine_near_dups

    dim = 8
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    rows = [Row(vec_id=1, embedding=e1), Row(vec_id=2, embedding=e1),
            Row(vec_id=3, embedding=e2)]
    out = cosine_near_dups(spark.createDataFrame(rows), "vec_id",
                           "embedding", dim=dim, threshold=0.99,
                           n_tables=4, n_planes=3).collect()
    assert [(r["id_a"], r["id_b"], r["cos"]) for r in out] == [(1, 2, 1.0)]


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """r2 VERDICT #2: a degenerate bucket (an entire corpus of identical
    boilerplate) must not build O(n^2) pairs when max_bucket_size is set;
    the default (None) keeps the exhaustive behavior."""
    from schisma_spark.functions.dedup import minhash_candidate_pairs

    n = 120
    df = spark.createDataFrame(
        [Row(doc_id=i, text="the same boilerplate text repeated verbatim")
         for i in range(n)]
    )
    assert minhash_candidate_pairs(df, "text", "doc_id").count() \
        == n * (n - 1) // 2  # uncapped: the data IS one giant bucket

    cap = 8
    c = minhash_candidate_pairs(df, "text", "doc_id",
                                max_bucket_size=cap).count()
    # each of the 4 bands keeps its own deterministic cap-sized sample;
    # distinct() unions them
    assert cap * (cap - 1) // 2 <= c <= 4 * cap * (cap - 1) // 2
    # deterministic across runs (stable sample, not RAND)
    assert c == minhash_candidate_pairs(df, "text", "doc_id",
                                        max_bucket_size=cap).count()


def test_cosine_near_dups_hot_bucket_cap(spark):
    """Same guard on the embedding LSH self-join: near-constant vectors
    collapse into one bucket per table."""
    from schisma_spark.functions.similarity import cosine_near_dups

    vec = [1.0] * 8
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec) for i in range(80)]
    )
    out = cosine_near_dups(df, "vec_id", "embedding", dim=8, threshold=0.9,
                           n_tables=4, n_planes=3, max_bucket_size=5)
    # <= C(5,2) pairs per table, deduped union across 4 tables
    assert 0 < out.count() <= 4 * 10


def test_vector_operators_skip_invalid_vectors(spark):
    """NaN, zero, NULL-element and NULL vectors take no part in any
    cosine operator: no raise (a zero norm divides by zero under ANSI),
    no row involving them (a NaN cosine passes ``>= threshold`` and ranks
    first), and the same rows as the call without them. The bad ids are
    multiples of ``sample_mod`` below every good id, so an ungated IVF
    bootstrap would take them as centroids."""
    import random

    from schisma_spark.functions.similarity import (
        cosine_near_dups, ivf_ann_topk,
    )

    rng = random.Random(7)
    good = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(60)]
    good += [[x * 1.01 for x in v] for v in good[:5]]  # planted near-dups
    bad = [[float("nan")] * 8, [0.0] * 8, [None] + [1.0] * 7, None]
    schema = "vec_id long, embedding array<float>"
    clean = spark.createDataFrame(list(enumerate(good, start=1)), schema)
    dirty = clean.unionByName(spark.createDataFrame(
        [(-13 * j, v) for j, v in enumerate(bad, start=1)], schema))

    def probes(df):
        return df.where((F.col("vec_id") % 10 == 0) | (F.col("vec_id") < 0))

    ops = {
        "cosine_near_dups": lambda df: cosine_near_dups(
            df, "vec_id", "embedding", dim=8, threshold=0.99, n_tables=4,
            n_planes=3),
        "lsh_ann_topk": lambda df: lsh_ann_topk(
            df, probes(df), "vec_id", "embedding", dim=8, k=3, n_tables=4,
            n_planes=2),
        "brute_force_topk": lambda df: brute_force_topk(
            df, probes(df), "vec_id", "embedding", k=3),
        "ivf_ann_topk": lambda df: ivf_ann_topk(
            df, probes(df), "vec_id", "embedding", dim=8, k=3,
            n_centroids=4, n_probe=2),
    }
    for name, op in ops.items():
        want = sorted(map(tuple, op(clean).collect()))
        assert want, name
        assert sorted(map(tuple, op(dirty).collect())) == want, name


def test_ivf_ann_probe_all_equals_brute_force(spark):
    """IVF-flat sharp property: probing ALL cells searches every candidate,
    so the result must equal exact brute force (same rounding/tie-break) —
    the partition into cells loses nothing, only the probe cut does."""
    from schisma_spark.functions.similarity import ivf_ann_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") % 50 == 0)
    ivf = ivf_ann_topk(emb, probes, "vec_id", "embedding", dim=64, k=5,
                       n_centroids=8, n_probe=8)
    bf = brute_force_topk(emb, probes, "vec_id", "embedding", k=5)
    cols = ["probe_id", "neighbor_id", "rank"]
    assert sorted(map(tuple, ivf.select(*cols).collect())) == \
        sorted(map(tuple, bf.select(*cols).collect()))


def test_ivf_ann_recall_reasonable(spark):
    """At n_probe=4/16 the probe cut keeps useful recall vs brute force."""
    from schisma_spark.functions.similarity import ivf_ann_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") % 50 == 0)
    ivf = set(map(tuple, ivf_ann_topk(
        emb, probes, "vec_id", "embedding", dim=64, k=5,
        n_centroids=16, n_probe=4,
    ).select("probe_id", "neighbor_id").collect()))
    bf = list(map(tuple, brute_force_topk(
        emb, probes, "vec_id", "embedding", k=5,
    ).select("probe_id", "neighbor_id").collect()))
    recall = sum(1 for t in bf if t in ivf) / len(bf)
    assert recall >= 0.3, recall


def test_simhash_near_dups_planted(spark):
    """Pigeonhole banding must surface a planted near-identical pair
    (one-word edit) and never miss any pair with hamming <= 3 (compared
    against the exhaustive all-pairs computation)."""
    from schisma_spark.functions.dedup import simhash_near_dups

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green woods tonight")
    rows = [Row(doc_id=0, text=base),
            Row(doc_id=1, text=base.replace("tonight", "today"))]
    rows += [Row(doc_id=i, text=f"document number {i} totally different "
                                f"content {i*7} unrelated words {i*13}")
             for i in range(2, 40)]
    df = spark.createDataFrame(rows)
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_dups(df, "text", "doc_id",
                                      max_hamming=3).collect()}
    # exhaustive twin
    from schisma_spark.functions.dedup import hamming32, simhash
    s = df.select("doc_id", simhash(F.col("text")).alias("s"))
    a = s.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = s.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    allp = (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    hamming32(F.col("sa"), F.col("sb")).alias("h"))
            .where(F.col("h") <= 3).collect())
    assert {(r["id_a"], r["id_b"]): r["h"] for r in allp} == got
    assert (0, 1) in got  # the planted one-word edit


@pytest.mark.parametrize("hasher", ["portable", "native"])
def test_simhash64_near_dups_matches_brute_force(spark, hasher):
    """r4 (the scale-correct banding): 16-bit-band candidates over the
    64/60-bit simhash must EXACTLY reproduce the exhaustive all-pairs
    hamming<=3 set — the d<=3 pigeonhole guarantees no candidate is
    missed, the bit_count verify guarantees none is spurious. Runs for
    both the portable (hash60) and native (xxhash64) hashers."""
    from schisma_spark.functions.dedup import simhash64, simhash64_near_dups

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep green woods tonight")
    rows = [Row(doc_id=0, text=base),
            Row(doc_id=1, text=base.replace("tonight", "today")),
            Row(doc_id=2, text=base)]  # exact copy -> hamming 0
    rows += [Row(doc_id=i, text=f"document number {i} totally different "
                                f"content {i*7} unrelated words {i*13}")
             for i in range(3, 40)]
    df = spark.createDataFrame(rows)
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash64_near_dups(df, "text", "doc_id", max_hamming=3,
                                        hasher=hasher).collect()}
    s = df.select("doc_id", simhash64(F.col("text"), hasher=hasher).alias("s"))
    a = s.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = s.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    allp = (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
                    .alias("h"))
            .where(F.col("h") <= 3).collect())
    assert {(r["id_a"], r["id_b"]): r["h"] for r in allp} == got
    assert got[(0, 2)] == 0          # planted exact copy
    # the one-word edit stays within d<=3 on the wide signature too for
    # this corpus — and MUST then be found by the banding
    if (0, 1) in {(r["id_a"], r["id_b"]) for r in allp}:
        assert (0, 1) in got


def test_connected_components(spark):
    """r4 dedup clustering: min-label propagation must converge to the
    least-reachable-id component label — including a CHAIN longer than
    one round's reach (0-1-2-3-4 needs 4 propagation rounds), disjoint
    clusters, and an empty pair set. Storage discipline: at most the
    result's own localCheckpoint blocks survive the call."""
    from schisma_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4),      # chain -> all label 0
         (10, 11), (11, 12),                  # triangle-ish -> label 10
         (20, 21)],                           # pair -> label 20
        "id_a long, id_b long",
    )
    before = {e.getKey() for e in spark.sparkContext._jsc
              .getPersistentRDDs().entrySet().toArray()}
    got = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    after = {e.getKey() for e in spark.sparkContext._jsc
             .getPersistentRDDs().entrySet().toArray()}
    # everything except the returned labels frame is freed
    assert len(after - before) <= 1

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).collect() == []


def test_minhash_near_dups_prunes_empty_shingle_docs(spark):
    """r5: blank/short/NULL docs all share the all-sentinel signature —
    one degenerate bucket of every empty doc in the corpus — yet can
    never pass a positive Jaccard threshold. Pruning them before banding
    must leave the near-dup pair set IDENTICAL."""
    from schisma_spark.functions.dedup import minhash_near_dups

    good = ("the quick brown fox jumps over the lazy dog while other "
            "animals watch from the shade")
    content = [(1, good), (2, good + " today"),
               (3, "completely different text about sailing ships across "
                   "the wide open ocean at dawn")]
    empties = [(10 + i, txt) for i, txt in enumerate(
        ["", "   ", "one", "two words", None, "x y", ""])]
    df_all = spark.createDataFrame(content + empties,
                                   "doc_id long, text string")
    df_clean = spark.createDataFrame(content, "doc_id long, text string")
    got_all = {(r["id_a"], r["id_b"]) for r in minhash_near_dups(
        df_all, "text", "doc_id", threshold=0.2, shingle_k=3).collect()}
    got_clean = {(r["id_a"], r["id_b"]) for r in minhash_near_dups(
        df_clean, "text", "doc_id", threshold=0.2, shingle_k=3).collect()}
    assert got_all == got_clean
    assert (1, 2) in got_all
    assert not any(a >= 10 or b >= 10 for a, b in got_all)


def test_banding_rejects_voided_pigeonhole(spark):
    """r4 ADVICE: max_hamming >= n_bands silently loses recall — the
    operators must refuse instead of shipping an incomplete pair set."""
    from schisma_spark.functions.dedup import (
        hamming_near_dups, simhash64_near_dups, simhash_near_dups,
    )

    df = spark.createDataFrame([(1, "a b c"), (2, "a b d")],
                               "doc_id long, text string")
    sigs = spark.createDataFrame([(1, 7), (2, 11)], "id long, sig long")
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_dups(sigs, "sig", "id", max_hamming=4, n_bands=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash64_near_dups(df, "text", "doc_id", max_hamming=5)
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(df, "text", "doc_id", max_hamming=4)
    # a valid radius still works
    assert hamming_near_dups(sigs, "sig", "id", max_hamming=3,
                             n_bands=4).count() >= 0


def test_connected_components_log_rounds(spark):
    """Hook and pointer jump after every round that changed labels: a
    planted 200-node transitive CHAIN (plain propagation needs 199
    rounds) converges in <= ceil(log2(200)) + 1 rounds, in id order and
    with its ids shuffled along the chain (where a jump without the hook
    needs dozens of rounds), and a budget too small for it raises
    instead of returning partial labels."""
    import math
    import random

    from schisma_spark.functions.dedup import connected_components

    n = 200
    shuffled = list(range(n))
    random.Random(3).shuffle(shuffled)
    for order in (list(range(n)), shuffled):
        chain = spark.createDataFrame(list(zip(order, order[1:])),
                                      "id_a long, id_b long")
        stats: dict = {}
        got = {r["node"]: r["component"] for r in
               connected_components(chain, stats_out=stats).collect()}
        assert got == {i: 0 for i in range(n)}
        assert stats["rounds"] <= math.ceil(math.log2(n)) + 1, order[:3]

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2)


def test_connected_components_leaves_session_conf_alone(spark, monkeypatch):
    """The rounds run on the session's own AQE and shuffle-partition
    settings: concurrent queries on the session never see them change,
    not even while a call is in flight (read at every round's probe)."""
    from schisma_spark.functions import dedup
    from schisma_spark.functions.dedup import connected_components

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    seen = []
    real = dedup.materialize

    def recording(df, *metrics):
        seen.append({k: spark.conf.get(k) for k in keys})
        return real(df, *metrics)

    monkeypatch.setattr(dedup, "materialize", recording)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(6)],
                                  "id_a long, id_b long")
    assert {r["component"] for r in
            connected_components(pairs).collect()} == {0}
    assert len(seen) >= 2 and all(s == before for s in seen), seen
    assert {k: spark.conf.get(k) for k in keys} == before


def test_cc_shortcut_options_are_gone(spark):
    """The pointer-jumping path is the only one, so its old switch is
    rejected everywhere it used to be accepted (the job's flag:
    test_job_entrypoint.py)."""
    from schisma_spark.functions.curate import (
        curation_keep_list, embedding_keep_list, signature_keep_list,
    )
    from schisma_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with pytest.raises(TypeError, match="shortcut"):
        connected_components(pairs, shortcut=True)
    docs = spark.createDataFrame([(1, "a b c d e f")],
                                 "doc_id long, text string")
    with pytest.raises(TypeError, match="cc_shortcut"):
        curation_keep_list(docs, cc_shortcut=True)
    sigs = spark.createDataFrame([(1, 7)], "id long, sig long")
    with pytest.raises(TypeError, match="cc_shortcut"):
        signature_keep_list(sigs, "id", "sig", cc_shortcut=True)
    vecs = spark.createDataFrame([(1, [1.0, 0.0])],
                                 "id long, v array<double>")
    with pytest.raises(TypeError, match="cc_shortcut"):
        embedding_keep_list(vecs, "id", "v", 2, cc_shortcut=True)


def test_connected_components_rejects_max_iterations_below_two(spark):
    from schisma_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    for bad in (0, 1):
        with pytest.raises(ValueError, match="max_iterations must be >= 2"):
            connected_components(pairs, max_iterations=bad)


def test_connected_components_failure_frees_checkpoints(spark, monkeypatch):
    """A call that fails before its first convergence probe finishes must
    leave no localCheckpoint blocks behind — the pre-resize edge blocks,
    which only that probe would free, included."""
    from schisma_spark.functions import dedup
    from schisma_spark.functions.dedup import connected_components

    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return {e.getKey() for e in
                jsc.getPersistentRDDs().entrySet().toArray()}

    pairs = spark.createDataFrame([(i, i + 1) for i in range(20)],
                                  "id_a long, id_b long")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    # keep the checkpointed edge set at its shuffle width, so the call
    # resizes it and defers freeing the original blocks to the probe
    spark.conf.set(key, "false")

    def probe_fails(df, *metrics):
        raise RuntimeError("probe failed")

    before = persistent_ids()
    try:
        monkeypatch.setattr(dedup, "materialize", probe_fails)
        with pytest.raises(RuntimeError, match="probe failed"):
            connected_components(pairs)
    finally:
        monkeypatch.undo()
        spark.conf.set(key, prev)
    assert persistent_ids() == before


def test_stratified_sample_deterministic_cap(spark):
    """r4: per-stratum cap is exact, deterministic across partitionings,
    and leaves small strata whole."""
    from schisma_spark.functions.curate import stratified_sample

    rows = [Row(doc_id=i, lang="en" if i % 3 else "de") for i in range(60)]
    df = spark.createDataFrame(rows)
    out = stratified_sample(df, ["lang"], "doc_id", 10)
    got = {(r["lang"], r["doc_id"]) for r in out.collect()}
    assert sum(1 for lang, _ in got if lang == "en") == 10
    assert sum(1 for lang, _ in got if lang == "de") == 10
    # repartitioned input -> identical kept set (hash rank, not position)
    got2 = {(r["lang"], r["doc_id"]) for r in
            stratified_sample(df.repartition(7), ["lang"], "doc_id",
                              10).collect()}
    assert got2 == got
    # a stratum smaller than the cap survives whole
    small = spark.createDataFrame([Row(doc_id=i, lang="fr")
                                   for i in range(4)])
    assert stratified_sample(small, ["lang"], "doc_id", 10).count() == 4


def test_stratified_sample_two_stage_skew_safe(spark):
    """r4 VERDICT #4: a 90%-one-stratum corpus must not funnel into a
    single window task — the pre-rank partitions on (stratum, salt) —
    and the two-stage rank must return EXACTLY the single-window answer
    (recomputed here independently with the same portable hash)."""
    import hashlib

    from schisma_spark.functions.curate import stratified_sample

    rows = [Row(doc_id=i, lang="en" if i % 10 else "de")  # 90% en
            for i in range(500)]
    df = spark.createDataFrame(rows)
    out = stratified_sample(df, ["lang"], "doc_id", 15, n_salts=8)
    got = {(r["lang"], r["doc_id"]) for r in out.collect()}

    def hk(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    expect = set()
    for lang in ("en", "de"):
        ids = [i for i in range(500)
               if (("en" if i % 10 else "de") == lang)]
        expect |= {(lang, i)
                   for i in sorted(ids, key=lambda i: (hk(i), i))[:15]}
    assert got == expect

    # plan evidence: the first window's partition spec includes the salt
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan


def test_stratified_two_stage_equals_single_stage_randomized(spark):
    """r5: the two-stage rank must equal the single-window answer for ANY
    corpus and salt count — several random shapes (uniform, skewed,
    tiny strata, n_salts 1 and 64) recomputed against the plain
    definition in Python."""
    import hashlib
    import random

    from schisma_spark.functions.curate import stratified_sample

    def hk(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    for seed, n_salts, cap in ((1, 1, 7), (2, 64, 3), (3, 8, 12)):
        rng = random.Random(seed)
        langs = ["en", "de", "fr", "xx"]
        weights = [0.7, 0.2, 0.07, 0.03] if seed != 2 else [0.97, .01, .01, .01]
        rows = [(i, rng.choices(langs, weights)[0]) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        got = {(r["lang"], r["doc_id"]) for r in
               stratified_sample(df, ["lang"], "doc_id", cap,
                                 n_salts=n_salts).collect()}
        expect = set()
        for lang in langs:
            ids = [i for i, l in rows if l == lang]
            expect |= {(lang, i) for i in
                       sorted(ids, key=lambda i: (hk(i), i))[:cap]}
        assert got == expect, (seed, n_salts, cap)


def test_curation_survivor_promotion(spark):
    """r4 review: when a near-dup cluster's min-id member fails an
    earlier gate, the NEXT surviving member must be promoted to
    canonical — not the whole cluster dropped. Pairs are injected so the
    cluster structure is exact."""
    from schisma_spark.functions.curate import curation_keep_list

    good = ("the quick brown fox jumps over the lazy dog while the "
            "other animals watch from the shade of an old oak tree")
    rows = [
        Row(doc_id=1, text="tiny"),            # low quality, in cluster
        Row(doc_id=2, text=good),              # survivor -> promoted
        Row(doc_id=3, text=good + " indeed"),  # near-dup of 2 -> dropped
        Row(doc_id=4, text=good),              # exact dup of 2? no — same
        # text as 2 -> same fingerprint group, min id 2 -> exact_dup
        Row(doc_id=5, text="the weather today is quite pleasant and the "
                           "birds are singing in the garden outside"),
    ]
    df = spark.createDataFrame(rows)
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in curation_keep_list(df, pairs=pairs).collect()}
    assert got[1] == (False, "low_quality")
    assert got[2] == (True, "ok")        # promoted: min survivor of {1,2,3}
    assert got[3] == (False, "near_dup")
    assert got[4] == (False, "exact_dup")
    assert got[5] == (True, "ok")        # clean, unclustered


def test_curation_null_text_gets_decision(spark):
    """r4 ADVICE (medium): NULL-text documents must not be dropped by the
    fingerprint join (fingerprint(NULL) is NULL) — the contract is one
    keep/reason row per input document, and NULL text is low_quality."""
    from schisma_spark.functions.curate import curation_keep_list

    good = ("the quick brown fox jumps over the lazy dog while the "
            "other animals watch from the shade of an old oak tree")
    df = spark.createDataFrame(
        [(1, None), (2, good), (3, None)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in curation_keep_list(df, pairs=pairs).collect()}
    assert len(got) == 3                       # every document decided
    assert got[1] == (False, "low_quality")
    assert got[3] == (False, "low_quality")
    assert got[2] == (True, "ok")


def test_curation_decontamination_gate(spark):
    """r6: with eval_df given, contaminated docs are dropped with reason
    'contaminated' (after low_quality, before exact_dup) and are NOT
    eligible as cluster canonicals — the next clean member is promoted."""
    from schisma_spark.functions.curate import curation_keep_list

    leak = ("the capital of france is paris and the answer to the "
            "benchmark question is forty two exactly as the key says")
    good = ("the quick brown fox jumps over the lazy dog while the "
            "other animals watch from the shade of an old oak tree")
    rows = [
        Row(doc_id=1, text=leak),   # contaminated, min id of cluster {1,2}
        Row(doc_id=2, text=good),   # clean near-dup partner -> promoted
        Row(doc_id=3, text="the weather today is quite pleasant and the "
                           "birds are singing in the garden outside"),
        Row(doc_id=4, text=leak + " padded with extra trailing words "
                           "so the fingerprint differs from document one"),
        Row(doc_id=5, text=good),   # exact dup of 2: min id of {2,5} is 2
    ]
    df = spark.createDataFrame(rows)
    eval_df = spark.createDataFrame([Row(text=leak)])
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {r["doc_id"]: (r["keep"], r["reason"])
           for r in curation_keep_list(
               df, pairs=pairs, eval_df=eval_df).collect()}
    assert len(got) == 5
    assert got[1] == (False, "contaminated")
    assert got[2] == (True, "ok")          # promoted past contaminated 1
    assert got[3] == (True, "ok")
    assert got[4] == (False, "contaminated")   # partial overlap still >= 1
    assert got[5] == (False, "exact_dup")

    # without eval_df the same corpus keeps the leak docs (control)
    ctl = {r["doc_id"]: r["reason"]
           for r in curation_keep_list(df, pairs=pairs).collect()}
    assert ctl[1] == "ok" and ctl[4] == "ok"


def test_lsh_bucket_stats_and_plane_suggestion(spark):
    """r3 VERDICT #5: the occupancy report must account for every row in
    every table and expose the skew signal that drives n_planes; the
    sizing rule follows m = ceil(log2(N / target))."""
    import numpy as np

    from schisma_spark.functions.similarity import (
        lsh_bucket_stats, suggest_n_planes,
    )

    rng = np.random.default_rng(5)
    rows = [Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=16)])
            for i in range(200)]
    df = spark.createDataFrame(rows)
    stats = lsh_bucket_stats(df, "embedding", dim=16, n_tables=4,
                             n_planes=3).collect()
    assert [r["table_id"] for r in stats] == [0, 1, 2, 3]
    for r in stats:
        assert r["n_rows"] == 200          # every row lands in one bucket
        assert 1 <= r["n_buckets"] <= 8    # 2^3 buckets max per table
        assert r["max_bucket"] >= r["p99_bucket"] >= r["p50_bucket"] >= 1
        assert abs(r["avg_bucket"] - 200 / r["n_buckets"]) < 1e-9

    # constant embeddings: all mass in ONE bucket per table -> the skew
    # signal the docstrings tell users to watch
    const = spark.createDataFrame(
        [Row(vec_id=i, embedding=[1.0] * 16) for i in range(50)])
    cstats = lsh_bucket_stats(const, "embedding", dim=16, n_tables=2,
                              n_planes=3).collect()
    assert all(r["n_buckets"] == 1 and r["max_bucket"] == 50 for r in cstats)

    assert suggest_n_planes(10**12, 1024) == 30
    assert suggest_n_planes(2048, 1024) == 1
    assert suggest_n_planes(100, 1024) == 1
    assert suggest_n_planes(10**6, 1000) == 10


def test_embedding_keep_list_decisions(spark):
    """r5: the vector-payload curation twin — every row gets exactly one
    decision; NULL, zero-norm and NON-FINITE vectors are invalid_vector
    (and stay out of the pair stage — a NaN vector would otherwise pair
    with every bucket-mate since NaN >= threshold is TRUE under Spark's
    NaN ordering, r5 ADVICE); within a near-dup cluster only the min id
    (the cluster label itself) survives."""
    from schisma_spark.functions.curate import embedding_keep_list

    nan = float("nan")
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),    # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),       # distinct direction
        (4, None),                        # failed encoder
        (5, [0.0, 0.0, 0.0, 0.0]),       # zero norm
        (6, [nan, nan, nan, nan]),        # NaN encoder output
        (7, [1.0, float("inf"), 0.0, 0.0]),  # overflowed element
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {r["vec_id"]: (r["keep"], r["reason"])
           for r in embedding_keep_list(df, "vec_id", "embedding", dim=4,
                                        pairs=pairs).collect()}
    assert len(got) == 7
    assert got[1] == (True, "ok")
    assert got[2] == (False, "near_dup")
    assert got[3] == (True, "ok")
    assert got[4] == (False, "invalid_vector")
    assert got[5] == (False, "invalid_vector")
    assert got[6] == (False, "invalid_vector")
    assert got[7] == (False, "invalid_vector")

    # end-to-end pair stage (no injected pairs): invalids must not crash
    # or pair (the NaN vector must NOT transitively merge 1-2-3 into one
    # cluster); the 1-2 near-dup must still be found via LSH + verify
    got2 = {r["vec_id"]: r["reason"]
            for r in embedding_keep_list(df, "vec_id", "embedding", dim=4,
                                         threshold=0.95, n_tables=4,
                                         n_planes=2).collect()}
    assert got2[4] == "invalid_vector" and got2[5] == "invalid_vector"
    assert got2[6] == "invalid_vector" and got2[7] == "invalid_vector"
    assert {got2[1], got2[2]} == {"ok", "near_dup"}
    assert got2[3] == "ok"


def test_signature_keep_list_decisions(spark):
    """r5: the generic int64-signature curation — NULL signatures keep
    their row as invalid_signature; hamming-banded clusters keep exactly
    the min member; distinct signatures survive. Works identically for
    image pHash and text simhash columns."""
    from schisma_spark.functions.curate import signature_keep_list

    rows = [
        (1, 0b1010101),
        (2, 0b1010100),          # hamming 1 from sig 1 -> near-dup
        (3, 0b1010101 << 30),    # far away
        (4, None),               # upstream hash failure
    ]
    df = spark.createDataFrame(rows, "img_id long, phash long")
    got = {r["img_id"]: (r["keep"], r["reason"])
           for r in signature_keep_list(df, "img_id", "phash",
                                        max_hamming=3).collect()}
    assert len(got) == 4
    assert got[1] == (True, "ok")          # cluster canonical
    assert got[2] == (False, "near_dup")
    assert got[3] == (True, "ok")
    assert got[4] == (False, "invalid_signature")


def test_ivf_refine_monotone_objective(spark):
    """r5: distributed spherical-k-means refinement must (a) be
    deterministic, (b) never decrease the mean max-cosine objective
    (the normalized-unit-mean update is the closed-form maximizer per
    cell), (c) keep empty cells at their previous centroid, and (d)
    plug into ivf_ann_topk as extra scans only."""
    import numpy as np

    from schisma_spark.functions.similarity import (
        ivf_ann_topk, ivf_centroids, ivf_refine_centroids,
    )

    rng = np.random.default_rng(11)
    # three loose clusters so refinement has something to improve
    centers = rng.normal(size=(3, 12))
    vecs = [centers[i % 3] + 0.4 * rng.normal(size=12) for i in range(180)]
    rows = [Row(vec_id=i, embedding=[float(x) for x in v])
            for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows)

    cents0 = ivf_centroids(df, "vec_id", "embedding", 4, sample_mod=7)
    cents1 = ivf_refine_centroids(df, "embedding", cents0, n_iters=1)
    cents2 = ivf_refine_centroids(df, "embedding", cents1, n_iters=1)
    # repeatability up to float-addition order only (r5 ADVICE: the
    # reduce-side double-sum merge order is not guaranteed, so bit-exact
    # equality can flake)
    rerun = ivf_refine_centroids(df, "embedding", cents0, 1)
    assert np.allclose(np.array(rerun), np.array(cents1), atol=1e-9)

    X = np.array(vecs)
    Xu = X / np.linalg.norm(X, axis=1, keepdims=True)

    def obj(cents):
        C = np.array(cents)
        Cu = C / np.linalg.norm(C, axis=1, keepdims=True)
        return float(np.mean(np.max(Xu @ Cu.T, axis=1)))

    # rounded-cosine assignment can mis-pick by <= 5e-7; allow that slack
    assert obj(cents1) >= obj(cents0) - 1e-5
    assert obj(cents2) >= obj(cents1) - 1e-5
    assert obj(cents1) > obj(cents0) + 1e-4   # loose clusters: real gain

    # empty cell keeps its centroid: a codebook with one absurd far-away
    # centroid that captures nothing
    far = [[100.0] * 12] + [list(c) for c in cents1[:2]]
    ref = ivf_refine_centroids(df, "embedding", far, 1)
    assert len(ref) == 3

    probes = df.where(F.col("vec_id") % 60 == 0)
    out = ivf_ann_topk(df, probes, "vec_id", "embedding", dim=12, k=3,
                       n_centroids=4, n_probe=2, sample_mod=7,
                       refine_iters=1)
    got = out.collect()
    assert {r["probe_id"] for r in got} == {0, 60, 120}
    assert all(1 <= r["rank"] <= 3 for r in got)


def test_ivf_refine_high_dim_plan_bounded(spark):
    """r5 VERDICT #5: the refinement aggregate must be constant-width in
    dim (posexplode + groupBy(cell,pos)), not dim separate SUM columns —
    at production dims (>=1024) the old shape built thousands of py4j
    aggregate expressions (driver-OOM risk). Checks correctness at
    dim=1024 and that plan construction stays bounded."""
    import time as _time

    import numpy as np

    from schisma_spark.functions.similarity import ivf_refine_centroids

    dim = 1024
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(2, dim))
    vecs = [centers[i % 2] + 0.1 * rng.normal(size=dim) for i in range(40)]
    rows = [Row(vec_id=i, embedding=[float(x) for x in v])
            for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows)

    cents0 = [[float(x) for x in c] for c in centers]
    t0 = _time.perf_counter()
    cents1 = ivf_refine_centroids(df, "embedding", cents0, n_iters=1)
    wall = _time.perf_counter() - t0
    # the old dim-wide shape took ~2s of py4j tree-build PER 64 dims;
    # the constant-width plan finishes the whole job in a few seconds
    assert wall < 60

    # numpy oracle: normalized mean of unit members per nearest-center cell
    X = np.array(vecs)
    Xu = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = np.array(cents0)
    Cu = C / np.linalg.norm(C, axis=1, keepdims=True)
    assign = np.argmax(np.round(Xu @ Cu.T, 6), axis=1)
    for cell in (0, 1):
        m = Xu[assign == cell].mean(axis=0)
        m = m / np.linalg.norm(m)
        assert np.allclose(np.array(cents1[cell]), m, atol=1e-8)


def test_lsh_defaults_derive_from_corpus_size(spark):
    """r4 VERDICT #2: n_planes=None (the new default) must derive m from
    the corpus via suggest_n_planes instead of shipping a fixed toy m —
    at 5M rows the rule gives m=13, NOT the old defaults of 4/6, and at
    test scale the derived-default call must equal the explicit call."""
    import numpy as np

    from schisma_spark.functions.similarity import (
        cosine_near_dups, lsh_ann_topk, suggest_n_planes,
    )

    # the sizes where the old fixed defaults (4 and 6) were silently wrong
    assert suggest_n_planes(5_000_000) == 13
    assert suggest_n_planes(2_000_000_000) == 21

    rng = np.random.default_rng(7)
    rows = [Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=8)])
            for i in range(120)]
    df = spark.createDataFrame(rows)
    m = suggest_n_planes(df.count())           # 120 rows -> m=1
    assert m == 1
    got_default = {(r["id_a"], r["id_b"]) for r in cosine_near_dups(
        df, "vec_id", "embedding", dim=8, threshold=0.9,
        n_tables=2).collect()}
    got_explicit = {(r["id_a"], r["id_b"]) for r in cosine_near_dups(
        df, "vec_id", "embedding", dim=8, threshold=0.9,
        n_tables=2, n_planes=m).collect()}
    assert got_default == got_explicit

    probes = df.where(F.col("vec_id") % 40 == 0)
    topk_default = {(r["probe_id"], r["neighbor_id"], r["rank"])
                    for r in lsh_ann_topk(df, probes, "vec_id", "embedding",
                                          dim=8, k=3, n_tables=2).collect()}
    topk_explicit = {(r["probe_id"], r["neighbor_id"], r["rank"])
                     for r in lsh_ann_topk(df, probes, "vec_id", "embedding",
                                           dim=8, k=3, n_tables=2,
                                           n_planes=m).collect()}
    assert topk_default == topk_explicit

    # r5 ADVICE: an n_rows hint must keep construction LAZY — no eager
    # count job. df=None proves no DataFrame method can have been touched.
    from schisma_spark.functions.similarity import _resolve_n_planes
    assert _resolve_n_planes(None, None, 1024, n_rows=5_000_000) == 13
    # and the hinted public call must match the counted default
    got_hint = {(r["id_a"], r["id_b"]) for r in cosine_near_dups(
        df, "vec_id", "embedding", dim=8, threshold=0.9,
        n_tables=2, n_rows=120).collect()}
    assert got_hint == got_default


def test_decontaminate_flags_eval_overlap(spark):
    """r5 VERDICT #4: documents sharing word k-gram shingles with the
    eval set are flagged; NULL/short texts have 0 shingles and stay
    clean; every input row yields exactly one output row; the native
    xxhash64 path agrees with the portable md5 path on the flags."""
    from schisma_spark.functions.dedup import decontaminate

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "eval_id long, text string")
    rows = [
        (1, "see the quick brown fox jumps over everything"),  # overlap
        (2, "completely unrelated text about spark engines here"),
        (3, None),
        (4, "a b"),                                   # < k words
        (5, "the quick brown fox jumps over the lazy dog"),  # verbatim leak
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for hasher in ("portable", "native"):
        out = {r["doc_id"]: r for r in decontaminate(
            df, ev, "text", "doc_id", min_overlap=2,
            hasher=hasher).collect()}
        assert len(out) == 5                      # every-row contract
        assert out[1]["contaminated"] is True
        assert out[1]["n_overlap"] >= 2
        assert out[2]["contaminated"] is False
        assert out[2]["n_overlap"] == 0
        assert out[3] ["n_shingles"] == 0 and out[3]["contaminated"] is False
        assert out[4]["n_shingles"] == 0 and out[4]["contaminated"] is False
        # verbatim leak: every shingle overlaps
        assert out[5]["n_overlap"] == out[5]["n_shingles"] > 0
        assert out[5]["contaminated"] is True

    # min_overlap thresholding: at a floor above the verbatim doc's
    # shingle count nothing is flagged
    strict = {r["doc_id"]: r["contaminated"] for r in decontaminate(
        df, ev, "text", "doc_id", min_overlap=1000).collect()}
    assert not any(strict.values())


def test_strip_boilerplate_lines(spark):
    """r5 VERDICT #6: lines whose trimmed form appears in >= min_docs
    distinct documents are removed; blank lines are kept (structure, not
    boilerplate); line order is preserved; whitespace-padded copies of a
    boilerplate line match via trim; repeated lines within ONE document
    count once toward doc-frequency; all-boilerplate and NULL docs come
    back NULL but keep their row."""
    from schisma_spark.functions.text import strip_boilerplate

    bp = "All rights reserved."
    rows = [
        (1, f"alpha body one\n{bp}\nmore alpha"),
        (2, f"beta body two\n  {bp}  "),            # padded copy
        (3, f"{bp}\n{bp}"),                          # all-boilerplate, x2
        (4, "gamma only unique content\n\ntail after blank"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in strip_boilerplate(
        df, "text", "doc_id", min_docs=3).collect()}
    assert len(out) == 6
    assert out[1]["text_clean"] == "alpha body one\nmore alpha"
    assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 1
    assert out[2]["text_clean"] == "beta body two"
    assert out[2]["n_removed"] == 1
    assert out[3]["text_clean"] is None             # nothing survives
    assert out[3]["n_lines"] == 2 and out[3]["n_removed"] == 2
    assert out[4]["text_clean"] == "gamma only unique content\n\ntail after blank"
    assert out[4]["n_removed"] == 0                  # blank line kept
    assert out[5]["text_clean"] is None and out[5]["n_lines"] == 0
    assert out[5]["n_removed"] == 0
    assert out[6]["text_clean"] == "" and out[6]["n_lines"] == 1

    # below the floor nothing is boilerplate (doc 3's repeat counts once)
    out2 = {r["doc_id"]: r for r in strip_boilerplate(
        df, "text", "doc_id", min_docs=4).collect()}
    assert out2[1]["n_removed"] == 0
    assert out2[3]["text_clean"] == f"{bp}\n{bp}"


def test_null_text_shingles_empty_no_phantom_pairs(spark):
    """r6 regression: word_shingles(NULL) must be [] (it used to be ['']
    — a phantom empty-string shingle shared by EVERY null-text doc, which
    escaped the empty-shingle prune and would form one O(N_null^2) LSH
    bucket at web scale). NULL docs must produce no minhash pairs."""
    from schisma_spark.functions.dedup import (
        minhash_near_dups, minhash_signature, word_shingles, MINHASH_P,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "real text here for company")],
        "doc_id long, text string")
    got = df.select(
        "doc_id", F.size(word_shingles(F.col("text"), 3)).alias("n"),
        minhash_signature(word_shingles(F.col("text"), 3), 4).alias("sig"),
    ).collect()
    by_id = {r["doc_id"]: r for r in got}
    assert by_id[1]["n"] == 0 and by_id[2]["n"] == 0 and by_id[3]["n"] == 0
    # empty shingle set -> all-sentinel signature, same as blank text
    assert list(by_id[1]["sig"]) == [MINHASH_P] * 4
    assert list(by_id[1]["sig"]) == list(by_id[3]["sig"])
    # and no NULL-NULL phantom near-dup pair survives
    assert minhash_near_dups(df, "text", "doc_id", threshold=0.5).count() == 0


def test_minhash_signatures_df_matches_projection(spark):
    """r6 (r5 VERDICT #3): the codegen'd explode+aggregate signature
    table must be BIT-IDENTICAL to the projection-shaped
    minhash_signature for both hashers, including empty/NULL/short docs
    restored by keep_empty with the all-sentinel signature."""
    from schisma_spark.functions.dedup import (
        minhash_signature, minhash_signatures_df, word_shingles,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different words appear in this one text"),
        (4, None),
        (5, ""),
        (6, "two words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for hasher in ("portable", "native"):
        proj = {r["doc_id"]: list(r["s"]) for r in df.select(
            "doc_id",
            minhash_signature(word_shingles(F.col("text"), 3), 8,
                              hasher=hasher).alias("s")).collect()}
        agg = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures_df(
            df, "text", "doc_id", shingle_k=3, n_hashes=8,
            hasher=hasher).collect()}
        assert agg == proj, hasher
        # keep_empty=False drops exactly the empty-shingle docs
        agg_ne = {r["doc_id"] for r in minhash_signatures_df(
            df, "text", "doc_id", shingle_k=3, n_hashes=8, hasher=hasher,
            keep_empty=False).collect()}
        assert agg_ne == {1, 2, 3}


def test_lexical_diversity_exact_values(spark):
    """r6: TTR / Simpson from integer aggregates — hand-computed values
    on known token multisets, NULL/blank docs restored with NULL
    ratios, one output row per input row."""
    from schisma_spark.functions.text import lexical_diversity

    df = spark.createDataFrame(
        [(1, "a b a b a"),            # counts {a:3, b:2}
         (2, "spam spam spam spam"),  # degenerate: one term
         (3, "all words here differ completely"),
         (4, None), (5, ""), (6, "   ")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            lexical_diversity(df, "text", "doc_id").collect()}
    assert len(rows) == 6
    r1 = rows[1]
    assert (r1["n_tokens"], r1["n_distinct"]) == (5, 2)
    assert r1["ttr"] == 2 / 5
    assert r1["simpson"] == (9 + 4) / 25          # (3² + 2²) / 5²
    r2 = rows[2]
    assert r2["simpson"] == 1.0 and r2["ttr"] == 0.25
    r3 = rows[3]
    assert r3["ttr"] == 1.0 and r3["simpson"] == 1 / 5
    for nid in (4, 5, 6):
        r = rows[nid]
        assert r["n_tokens"] == 0 and r["n_distinct"] == 0
        assert r["ttr"] is None and r["simpson"] is None


def test_incremental_dedup_decisions(spark):
    """r6: incremental ingest dedup against a persisted corpus signature
    table. A verbatim copy of a corpus doc matches with est_jac 1.0 and
    dup_of = the MIN matching corpus id; fresh docs keep; NULL / blank /
    short batch docs keep with NULL dup_of (pruned pre-banding, restored
    by the decision contract); an empty-signature corpus row (NULL text,
    keep_empty sentinels) never matches anything — the degenerate
    all-sentinel bucket is pruned on both sides. Exactly one decision
    row per batch row, for both hash families."""
    from schisma_spark.functions.dedup import (
        incremental_dedup, minhash_signatures_df,
    )

    shared = "the quick brown fox jumps over the lazy dog every single day"
    corpus = spark.createDataFrame(
        [(100, shared), (101, shared),
         (102, "completely unrelated corpus document about database "
               "engines and columnar storage formats"),
         (103, None)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, shared),
         (2, "totally novel words never appearing anywhere else in "
             "this tiny corpus fixture at all"),
         (3, None), (4, ""), (5, "two words")],
        "doc_id long, text string")
    for hasher in ("portable", "native"):
        sigs = minhash_signatures_df(corpus, "text", "doc_id",
                                     hasher=hasher, keep_empty=True)
        rows = incremental_dedup(batch, sigs, "text", "doc_id",
                                 hasher=hasher, min_est_jac=0.5).collect()
        assert len(rows) == 5, hasher
        by_id = {r["new_id"]: r for r in rows}
        assert not by_id[1]["keep"] and by_id[1]["dup_of"] == 100
        assert by_id[1]["est_jac"] == 1.0
        for nid in (2, 3, 4, 5):
            r = by_id[nid]
            assert r["keep"] and r["dup_of"] is None and r["est_jac"] is None


def test_redact_pii_and_counts(spark):
    """r6: emails/IPv4/phone-shapes replaced with typed tokens in
    declaration order (ip before phone so the phone pattern never eats
    an address's digits); counts run over the original text; NULL text
    stays NULL; clean text passes through unchanged."""
    from schisma_spark.functions.text import pii_count, redact_pii

    rows = [
        (1, "mail me at a.b-c_d@ex-ample.co.uk now"),
        (2, "server 192.168.0.1 and backup 10.0.0.254"),
        (3, "call +14155551234 or 415-555-1234 today"),
        (4, "no pii in this perfectly clean sentence"),
        (5, None),
        (6, "mix: x@y.io at 8.8.8.8 tel 212-555-0100"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = F.col("text")
    got = {r["doc_id"]: r for r in df.select(
        "doc_id", redact_pii(t).alias("red"),
        pii_count(t, "email").alias("ne"),
        pii_count(t, "ip").alias("ni"),
        pii_count(t, "phone").alias("np")).collect()}
    assert got[1]["red"] == "mail me at <EMAIL> now"
    assert (got[1]["ne"], got[1]["ni"], got[1]["np"]) == (1, 0, 0)
    assert got[2]["red"] == "server <IP> and backup <IP>"
    assert got[2]["ni"] == 2
    assert got[3]["red"] == "call <PHONE> or <PHONE> today"
    assert got[3]["np"] == 2
    assert got[4]["red"] == rows[3][1]
    assert got[5]["red"] is None
    assert got[6]["red"] == "mix: <EMAIL> at <IP> tel <PHONE>"


def test_repetition_fractions(spark):
    """r6: Gopher-style duplicate-word / duplicate-line fractions — a
    doubled doc scores 0.5 on the doubled axis; unique text scores 0;
    NULL/blank score 0; blank lines are excluded from the line stat."""
    from schisma_spark.functions.text import dup_line_frac, dup_word_frac

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta alpha beta"),                 # dup words 0.5
        (3, "line one\nline two\nline one"),          # dup lines 1/3
        (4, "x\n\n  \nx"),                            # blanks excluded -> 0.5
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in df.select(
        "doc_id",
        F.round(dup_word_frac(F.col("text")), 6).alias("w"),
        F.round(dup_line_frac(F.col("text")), 6).alias("l")).collect()}
    assert got[1]["w"] == 0.0 and got[1]["l"] == 0.0
    assert got[2]["w"] == 0.5
    assert abs(got[3]["l"] - 1 / 3) < 1e-6
    assert got[4]["l"] == 0.5
    assert got[5]["w"] == 0.0 and got[5]["l"] == 0.0
    assert got[6]["w"] == 0.0 and got[6]["l"] == 0.0


def test_pack_chunk_known_layout(spark):
    """r6 sequence packing, chunk strategy: exact concatenate-then-cut
    assignment on a hand-computed token stream (one shard so the layout
    is fully determined)."""
    from schisma_spark.functions.pack import pack_sequences

    rows = [(i + 1, t) for i, t in enumerate([4, 4, 4, 12, 0, 3])]
    df = spark.createDataFrame(rows, "doc_id long, tokens_in long")
    got = {r["doc_id"]: r for r in pack_sequences(
        df, token_col="tokens_in", budget=10, n_shards=1).collect()}
    # starts: 0,4,8,12,24,24
    expect = {   # (seq_id, offset, end_seq)
        1: (0, 0, 0), 2: (0, 4, 0), 3: (0, 8, 1),   # doc 3 spans the cut
        4: (1, 2, 2),                               # longer than budget
        5: (2, 4, 2),                               # zero-width still placed
        6: (2, 4, 2),
    }
    assert {k: (v["seq_id"], v["offset"], v["end_seq"])
            for k, v in got.items()} == expect
    assert all(got[k]["shard"] == got[1]["shard"] for k in got)


def test_pack_greedy_matches_python_reference(spark):
    """r6 greedy next-fit packing equals a pure-Python per-shard replay;
    invariants: every input row decided, offset+tokens <= budget unless
    the doc alone overflows, windows dense from 0 per shard."""
    import random

    from schisma_spark.functions.pack import pack_sequences
    from schisma_spark.functions.portable import hash32

    rng = random.Random(11)
    rows = [(i, rng.choice([0, 1, 3, 7, 20, 64, 130]))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, tokens_in long")
    budget, n_shards = 100, 4
    out = pack_sequences(df, token_col="tokens_in", budget=budget,
                         n_shards=n_shards, strategy="greedy")
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 200

    shard_of = {r["doc_id"]: r["shard"] for r in df.select(
        "doc_id", (hash32(F.col("doc_id").cast("string")) % n_shards)
        .alias("shard")).collect()}
    by_shard = {}
    for i, tok in rows:
        by_shard.setdefault(shard_of[i], []).append((i, tok))
    for shard, docs in by_shard.items():
        seq, fill = 0, 0
        for i, tok in sorted(docs):
            if fill > 0 and fill + tok > budget:
                seq, fill = seq + 1, 0
            r = got[i]
            assert (r["shard"], r["seq_id"], r["offset"], r["end_seq"]) \
                == (shard, seq, fill, seq), i
            fill += tok
    for r in got.values():
        assert r["offset"] + r["tokens"] <= budget or r["offset"] == 0


def test_pack_null_text_and_stats(spark):
    """NULL/blank text packs as 0 tokens (every-row contract) and
    packing_stats reports the window count and fill rate of the batch."""
    from schisma_spark.functions.pack import pack_sequences, packing_stats

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "   "),
         (4, "one two three four five six seven eight")],
        "doc_id long, text string")
    p = pack_sequences(df, budget=5, n_shards=1)
    got = {r["doc_id"]: r for r in p.collect()}
    assert len(got) == 4
    assert got[2]["tokens"] == 0 and got[3]["tokens"] == 0
    s = packing_stats(p, 5).collect()[0]
    total = 3 + 0 + 0 + 8
    assert s["n_docs"] == 4 and s["total_tokens"] == total
    # one shard: windows = max(end_seq)+1 over the 11-token stream
    assert s["n_seqs"] == max(r["end_seq"] for r in got.values()) + 1
    assert abs(s["fill_rate"] - total / (s["n_seqs"] * 5)) < 1e-6

    # EMPTY packed frame (e.g. a keep-list that dropped everything):
    # real zeros, not NULLs that crash int() in job manifests
    empty = packing_stats(p.where(F.lit(False)), 5).collect()[0]
    assert (empty["n_docs"], empty["n_seqs"],
            empty["total_tokens"], empty["fill_rate"]) == (0, 0, 0, 0.0)


def test_vocab_stats_exact_counts(spark):
    """r6: term/doc-frequency table with deterministic tf-then-term
    ordering; NULL and blank docs contribute nothing."""
    from schisma_spark.functions.text import vocab_stats

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"),
         (3, "Apple  "), (4, None), (5, "")],
        "doc_id long, text string")
    rows = vocab_stats(df, top_k=10).collect()
    assert [(r["term"], r["tf"], r["df_docs"]) for r in rows] == [
        ("apple", 3, 2),      # lowercased: doc 3's 'Apple' counts
        ("banana", 2, 2),
        ("cherry", 1, 1),
    ]
    top1 = vocab_stats(df, top_k=1).collect()
    assert [(r["term"], r["tf"]) for r in top1] == [("apple", 3)]


def test_vocab_drift_js_divergence(spark):
    """r6 vocab drift: exact tf per snapshot, smoothed renormalized
    probabilities, per-term JS contributions that sum to the JSD and
    rank the genuinely-drifting term first; NULL/blank docs inert."""
    import math

    from schisma_spark.functions.text import vocab_drift

    a = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "cherry"), (3, None), (4, "")],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(1, "apple banana"), (2, "durian durian durian")],
        "doc_id long, text string")
    got = {r["term"]: r for r in vocab_drift(a, b, top_n=10).collect()}

    tf_a = {"apple": 2, "banana": 1, "cherry": 1, "durian": 0}
    tf_b = {"apple": 1, "banana": 1, "cherry": 0, "durian": 3}
    assert {t: (r["tf_a"], r["tf_b"]) for t, r in got.items()} == {
        t: (tf_a[t], tf_b[t]) for t in tf_a}

    # replicate the smoothing/renormalization/ln math independently
    n, sta, stb = 4, sum(tf_a.values()), sum(tf_b.values())
    exp_js = {}
    for t in tf_a:
        pa = (tf_a[t] + 0.5) / (sta + 0.5 * n)
        pb = (tf_b[t] + 0.5) / (stb + 0.5 * n)
        m = (pa + pb) / 2.0
        exp_js[t] = (pa * math.log(pa / m) + pb * math.log(pb / m)) / 2.0
        assert got[t]["p_a"] == pytest.approx(pa, abs=1e-6)
        assert got[t]["p_b"] == pytest.approx(pb, abs=1e-6)
        assert got[t]["js_contrib"] == pytest.approx(exp_js[t], abs=1e-9)
        assert got[t]["js_contrib"] >= 0.0
    # the planted one-sided term dominates the divergence
    assert max(exp_js, key=exp_js.get) == "durian"
    assert sum(r["js_contrib"] for r in got.values()) == pytest.approx(
        sum(exp_js.values()), abs=1e-8)

    # top_n truncation keeps the pooled-count order (ties by term)
    top2 = {r["term"] for r in vocab_drift(a, b, top_n=2).collect()}
    assert top2 == {"apple", "durian"}  # pooled tf 3 each


def test_weighted_sample_properties(spark):
    """r6 mixture reweighting: weight-0 stratum empty, weight-1 stratum
    whole, kept fraction tracks the weight, and shrinking a weight under
    the same salt only REMOVES rows (nested subsets)."""
    from schisma_spark.functions.curate import weighted_sample

    rows = [(i, f"s{i % 4}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    kept = weighted_sample(
        df, {"s0": 0.0, "s1": 0.3, "s2": 1.0}, salt="t").collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    assert "s0" not in by_src
    assert len(by_src["s2"]) == 500                 # weight 1 keeps all
    assert len(by_src["s3"]) == 500                 # default weight 1.0
    assert 0.2 < len(by_src["s1"]) / 500 < 0.4      # tracks 0.3

    smaller = weighted_sample(
        df, {"s0": 0.0, "s1": 0.1, "s2": 1.0}, salt="t").collect()
    s1_small = {r["doc_id"] for r in smaller if r["source"] == "s1"}
    assert s1_small <= by_src["s1"]                 # nested under same salt
    # a different salt draws a different subset at the same weight
    other = {r["doc_id"] for r in weighted_sample(
        df, {"s1": 0.3}, salt="u").collect() if r["source"] == "s1"}
    assert other != by_src["s1"]

    # NULL ids are NOT silently dropped: weight 1.0 keeps them
    nid = spark.createDataFrame([(None, "s2"), (5, "s2")],
                                "doc_id long, source string")
    assert weighted_sample(nid, {"s2": 1.0}).count() == 2


def test_decontaminate_pairs_attribution(spark):
    """r6: the per-pair audit trail names WHICH eval doc leaked into
    which corpus doc, and at min_overlap=1 its flagged-doc set equals
    decontaminate's verdict."""
    from schisma_spark.functions.dedup import (
        decontaminate, decontaminate_pairs,
    )

    leak_a = ("the capital of france is paris and the answer to the "
              "benchmark question is forty two exactly")
    leak_b = ("photosynthesis converts light energy into chemical energy "
              "inside the chloroplasts of green plants")
    rows = [
        (1, leak_a),                       # verbatim leak of eval 100
        (2, leak_b + " as we all know"),   # partial leak of eval 200
        (3, "organic text about spark shuffles and window functions"),
        (4, leak_a + " " + leak_b),        # leaks BOTH eval docs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, leak_a), (200, leak_b)], "eval_id long, text string")

    pairs = {(r["doc_id"], r["eval_id"]): r["n_shared"]
             for r in decontaminate_pairs(df, ev, min_overlap=2).collect()}
    assert set(pairs) == {(1, 100), (2, 200), (4, 100), (4, 200)}
    assert pairs[(4, 100)] >= 2 and pairs[(4, 200)] >= 2

    flagged = {r["doc_id"] for r in
               decontaminate(df, ev, min_overlap=1).collect()
               if r["contaminated"]}
    attributed = {r["doc_id"] for r in
                  decontaminate_pairs(df, ev, min_overlap=1).collect()}
    assert flagged == attributed == {1, 2, 4}


def test_pack_images_by_pixel_budget(spark):
    """r6: the packing operator is payload-agnostic — pack IMAGE rows
    into fixed pixel-budget GPU batches via token_col=w*h (string ids,
    greedy never splits an image across batches)."""
    from schisma_spark.functions.pack import pack_sequences
    from schisma_spark.image.fixtures import images_table

    imgs = images_table(spark, 120, seed=3).select(
        "image_id", (F.col("w") * F.col("h")).alias("px"))
    budget = 4 * imgs.agg(F.max("px")).collect()[0][0]
    out = pack_sequences(imgs, id_col="image_id", token_col="px",
                         budget=budget, n_shards=4, strategy="greedy")
    rows = out.collect()
    assert len(rows) == 120                       # every image placed
    fills = {}
    for r in rows:
        fills[(r["shard"], r["seq_id"])] = \
            fills.get((r["shard"], r["seq_id"]), 0) + r["tokens"]
    assert all(v <= budget for v in fills.values())   # no batch overflows


def test_url_ops_and_filter(spark):
    """r6 web family: host/domain extraction edges (userinfo, port,
    case, garbage, NULL), normalization (fragment + empty query), and
    domain-level blocking that catches subdomains but not lookalikes."""
    from schisma_spark.functions.web import (
        registered_domain, url_filter, url_host, url_normalize,
    )

    rows = [
        (1, "https://Sub.A.Example.COM:8080/Path?q=1#Frag"),
        (2, "HTTPS://user:pw@cdn.badsite.net/x"),
        (3, "ftp://files.badsite.net/pub"),
        (4, "https://notbadsite.net/landing?"),
        (5, "not a url at all"),
        (6, None),
        (7, "https://badsite.net./evade"),   # trailing-dot FQDN evasion
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r for r in df.select(
        "doc_id",
        url_host(F.col("url")).alias("h"),
        registered_domain(url_host(F.col("url"))).alias("d"),
        url_normalize(F.col("url")).alias("n")).collect()}
    assert got[1]["h"] == "sub.a.example.com"       # port stripped, lowered
    assert got[1]["d"] == "example.com"
    assert got[1]["n"] == "https://sub.a.example.com:8080/path?q=1"
    assert got[2]["h"] == "cdn.badsite.net"         # userinfo stripped
    assert got[3]["h"] == "files.badsite.net"       # any scheme
    assert got[4]["n"] == "https://notbadsite.net/landing"  # '?' stripped
    assert got[5]["h"] == "" and got[5]["d"] == ""
    assert got[6]["h"] is None
    assert got[7]["h"] == "badsite.net"             # trailing dot stripped

    bl = spark.createDataFrame([("badsite.net",)], "entry string")
    blocked = {r["doc_id"]: r["blocked"]
               for r in url_filter(df, bl, by="domain").collect()}
    assert blocked == {1: False, 2: True, 3: True, 4: False,
                       5: False, 6: False, 7: True}  # every row decided
    by_host = {r["doc_id"]: r["blocked"] for r in url_filter(
        df, spark.createDataFrame([("cdn.badsite.net",)], "e string"),
        by="host").collect()}
    assert by_host[2] is True and by_host[3] is False

    # host-form blocklist entries are reduced to their registered domain
    # under by='domain' (they used to silently never match)
    host_entry = {r["doc_id"]: r["blocked"] for r in url_filter(
        df, spark.createDataFrame([("www.badsite.net",)], "e string"),
        by="domain").collect()}
    assert host_entry[2] is True and host_entry[3] is True

    # a dotless entry ('localhost') or blank line reduces to '' under
    # by='domain' — it must NOT equi-join the '' domain of garbage /
    # single-label-host rows (r6 self-review: one stray entry used to
    # block every unparseable URL in the corpus)
    messy = {r["doc_id"]: r["blocked"] for r in url_filter(
        df, spark.createDataFrame(
            [("localhost",), ("",), ("badsite.net",)], "e string"),
        by="domain").collect()}
    assert messy == blocked  # the two degenerate entries are inert
    # ... and no duplicate rows from the extra entries
    assert url_filter(df, spark.createDataFrame(
        [("localhost",), ("",)], "e string"), by="domain").count() == 7

    with pytest.raises(ValueError):
        url_filter(df, bl, by="tld")


def test_registered_domain_psl(spark):
    """r6 PSL-aware registered domain: plain/wildcard/exception rule
    kinds, prevailing-rule order, implicit '*' default, public-suffix
    hosts yield '', comments/blank/case-noise in the list are inert —
    and the corpus side never shuffles (broadcast joins only)."""
    from schisma_spark.functions.web import registered_domain_psl

    psl = spark.createDataFrame(
        [("com",), ("co.uk",), ("uk",), ("*.ck",), ("!www.ck",),
         ("org",), ("// comment",), ("",), ("COM",)], "rule string")
    cases = [
        ("example.com", "example.com"),
        ("www.example.com", "example.com"),
        ("sub.a.example.co.uk", "example.co.uk"),   # 2-level suffix
        ("foo.bar.ck", "foo.bar.ck"),               # wildcard *.ck
        ("www.ck", "www.ck"),                       # exception !www.ck
        ("bar.ck", ""),                             # IS a public suffix
        ("co.uk", ""),                              # IS a public suffix
        ("unknown.tld", "unknown.tld"),             # implicit '*'
        ("tld", ""),                                # single label
        ("", ""),
        (None, None),
        ("a.b.c.d.e.example.com", "example.com"),   # deep subdomain
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    out = registered_domain_psl(df, psl)
    got = {r["host"]: r["domain_psl"] for r in out.collect()}
    for h, want in cases:
        assert got[h] == want, (h, got[h], want)
    # scale shape: per-depth broadcast joins, never a corpus shuffle —
    # the default dimension-table hint keeps even the pre-AQE plan free
    # of SortMergeJoin candidates (whose corpus shuffle stage can launch
    # before AQE re-plans)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # 'auto' (AQE) produces identical values
    auto = {r["host"]: r["domain_psl"] for r in registered_domain_psl(
        df, psl, strategy="auto").collect()}
    assert auto == got
    with pytest.raises(ValueError):
        registered_domain_psl(df, psl, strategy="shuffle_hash")


def test_hash_split_stability_and_fractions(spark):
    """r6: split labels track the fractions, are stable under corpus
    GROWTH (old rows never move), and a bad fraction sum raises."""
    from schisma_spark.functions.curate import hash_split

    df = spark.createDataFrame([(i,) for i in range(3000)], "doc_id long")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {r["doc_id"]: r["split"] for r in hash_split(df, fr).collect()}
    counts = {}
    for s in got.values():
        counts[s] = counts.get(s, 0) + 1
    assert 0.75 < counts["train"] / 3000 < 0.85
    assert 0.07 < counts["val"] / 3000 < 0.13
    assert 0.07 < counts["test"] / 3000 < 0.13

    grown = spark.createDataFrame([(i,) for i in range(6000)],
                                  "doc_id long")
    regrown = {r["doc_id"]: r["split"]
               for r in hash_split(grown, fr).collect()}
    assert all(regrown[i] == got[i] for i in range(3000))  # no migration

    with pytest.raises(ValueError):
        hash_split(df, {"train": 0.9, "val": 0.05})
    with pytest.raises(ValueError):                 # sums to 1, but bad
        hash_split(df, {"train": 1.5, "val": -0.5})

    # NULL ids: one shared deterministic draw, never the silent
    # fall-through-to-last-label NULL-comparison path
    nid = spark.createDataFrame([(None,), (None,), (7,)], "doc_id long")
    labs = [r["split"] for r in hash_split(nid, fr).collect()
            if r["doc_id"] is None]
    assert len(labs) == 2 and len(set(labs)) == 1


def test_corpus_diff_statuses(spark):
    """r6: corpus_diff labels every planted edit class correctly,
    including the NULL-safe fingerprint compare (text -> NULL and
    NULL -> text are both 'changed', NULL == NULL is 'unchanged')."""
    from schisma_spark.functions.curate import corpus_diff

    a = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, None), (5, None)],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(1, "alpha"), (2, "beta EDITED"), (4, None), (5, "revived"),
         (6, "brand new")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["status"]
           for r in corpus_diff(a, b, "text", "doc_id").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "unchanged", 5: "changed", 6: "added"}
    # exactly one row per id in either snapshot
    assert len(got) == 6


def test_containment_subset_duplication(spark):
    """The duplication shape Jaccard LSH structurally misses: a short doc
    embedded VERBATIM inside a much longer page. Containment is exactly
    1.0 while jaccard sits far below any band threshold — and
    minhash_near_dups at its own 0.5 bar indeed finds nothing."""
    from schisma_spark.functions.dedup import containment_near_dups

    small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = " ".join(f"filler{i} pad{i} word{i}" for i in range(40))
    df = spark.createDataFrame([
        Row(doc_id=1, text=small),
        Row(doc_id=2, text=filler + " " + small + " tail one two three"),
        Row(doc_id=3, text="totally unrelated vocabulary entirely "
                           "different words over here right now"),
    ])
    got = {(r.id_a, r.id_b): r
           for r in containment_near_dups(df, "text", "doc_id",
                                          threshold=0.9).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)].cont_a_in_b == 1.0
    assert got[(1, 2)].jac < 0.3
    lsh = minhash_near_dups(df, "text", "doc_id", threshold=0.5).collect()
    assert not any({r.id_a, r.id_b} == {1, 2} for r in lsh)


def test_containment_max_doc_freq_cap(spark):
    """The index cap drops corpus-ubiquitous shingles from CANDIDATE
    GENERATION only; verification recomputes the true intersection, so a
    pair that still shares >= min_shared rare shingles keeps identical
    scores — while pairs whose EVERY shared shingle is boilerplate
    disappear (the documented recall trade)."""
    from schisma_spark.functions.dedup import containment_near_dups

    boiler = "click here to subscribe to our newsletter today"
    # 3 unique words + the 8-word boiler = 9 trigrams of which the 6
    # boiler-internal ones are shared -> containment 6/9 = 0.667 >= 0.6,
    # so filler pairs DO surface uncapped (a longer prefix made the old
    # version vacuous: 6/13 < 0.6 meant the cap assertion tested nothing)
    rows = [Row(doc_id=i,
                text=f"unique{i} body{i} words{i} {boiler}")
            for i in range(10)]
    # docs 100/101 share REAL content beyond the boilerplate
    shared = "the quick brown fox jumps over the lazy dog again"
    rows += [Row(doc_id=100, text=shared + " " + boiler),
             Row(doc_id=101, text=shared + " closing words here "
                                  + boiler)]
    df = spark.createDataFrame(rows)
    uncapped = {(r.id_a, r.id_b): (r.cont_a_in_b, r.cont_b_in_a, r.jac)
                for r in containment_near_dups(
                    df, "text", "doc_id", threshold=0.6).collect()}
    capped = {(r.id_a, r.id_b): (r.cont_a_in_b, r.cont_b_in_a, r.jac)
              for r in containment_near_dups(
                  df, "text", "doc_id", threshold=0.6,
                  max_doc_freq=4).collect()}
    assert (100, 101) in uncapped and (100, 101) in capped
    assert capped[(100, 101)] == uncapped[(100, 101)]
    # boilerplate-only pairs DID exist uncapped (10 filler docs share
    # the phrase above threshold) and are gone under the cap — the
    # documented recall trade, now actually exercised
    filler_pairs_uncapped = [p for p in uncapped if p[0] < 10 and p[1] < 10]
    assert filler_pairs_uncapped, "cap test is vacuous without them"
    filler_pairs_capped = [p for p in capped if p[0] < 10 and p[1] < 10]
    assert filler_pairs_capped == []


def test_containment_min_shared(spark):
    """min_shared prunes single-shingle coincidence pairs pre-verify."""
    from schisma_spark.functions.dedup import containment_near_dups

    df = spark.createDataFrame([
        Row(doc_id=1, text="a b c"),                 # one trigram: 'a b c'
        Row(doc_id=2, text="z a b c"),               # contains it (2 trigrams)
        Row(doc_id=3, text="p q r s t u v w"),
    ])
    one = containment_near_dups(df, "text", "doc_id", threshold=0.9,
                                min_shared=1).collect()
    assert {(r.id_a, r.id_b) for r in one} == {(1, 2)}
    assert one[0].cont_a_in_b == 1.0
    two = containment_near_dups(df, "text", "doc_id", threshold=0.9,
                                min_shared=2).collect()
    assert two == []


def test_embedding_decontaminate_decisions(spark):
    """Semantic decontamination: verbatim and scaled (paraphrase stand-in)
    eval leaks flag; NaN eval rows are gated out (NaN cosine would pass
    >= threshold); NULL-vector corpus rows surface as clean decisions;
    every corpus row yields exactly one row."""
    import math
    from schisma_spark.functions.similarity import embedding_decontaminate

    def vec(seed):
        return [math.sin(seed * 7 + j) for j in range(8)]

    corpus = spark.createDataFrame(
        [Row(vec_id=i, embedding=vec(i)) for i in range(20)]
        + [Row(vec_id=99, embedding=None)])
    ev = spark.createDataFrame([
        Row(eval_id=1000, embedding=vec(3)),                 # verbatim leak
        Row(eval_id=1001, embedding=[x * 2 for x in vec(7)]),  # scaled leak
        Row(eval_id=1002, embedding=[float("nan")] * 8),     # invalid eval
    ])
    out = {r.vec_id: r for r in embedding_decontaminate(
        corpus, ev, "vec_id", "embedding", dim=8, threshold=0.99,
        n_tables=4, n_planes=3, eval_id_col="eval_id").collect()}
    assert len(out) == 21
    assert out[3].contaminated and out[3].max_sim == 1.0
    assert out[7].contaminated and out[7].n_eval_hits == 1
    assert not out[99].contaminated and out[99].n_eval_hits == 0
    assert out[99].max_sim is None
    clean = [r for r in out.values() if not r.contaminated]
    assert all(r.max_sim is None for r in clean)


def test_embedding_decontaminate_plan_not_cartesian(spark):
    """The corpus x eval candidate stage must stay an equi-join on
    (table_id, bucket) — never a nested loop over the corpus."""
    import math
    from schisma_spark.functions.similarity import embedding_decontaminate

    corpus = spark.createDataFrame(
        [Row(vec_id=i, embedding=[math.sin(i + j) for j in range(4)])
         for i in range(40)])
    ev = corpus.limit(3).select(F.col("vec_id").alias("eval_id"),
                                "embedding")
    out = embedding_decontaminate(corpus, ev, "vec_id", "embedding",
                                  dim=4, n_tables=2, n_planes=2,
                                  eval_id_col="eval_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_topics_assignment(spark):
    """Every row keeps exactly one decision row; valid rows get a topic in
    [1, n_topics] with sim = cosine to that centroid; invalid rows (NULL /
    zero / NaN vector) get NULL topic; refinement never worsens the mean
    assignment cosine (the spherical-k-means objective is monotone); and
    the assignment stage plans with NO shuffle (one projection against
    the literal codebook)."""
    import math
    from schisma_spark.functions.similarity import kmeans_topics

    def vec(seed):
        return [math.sin(seed * 3 + j) for j in range(6)]

    rows = [Row(vec_id=i, embedding=vec(i)) for i in range(40)]
    rows += [Row(vec_id=100, embedding=None),
             Row(vec_id=101, embedding=[0.0] * 6),
             Row(vec_id=102, embedding=[float("nan")] * 6)]
    df = spark.createDataFrame(rows)
    base = kmeans_topics(df, "vec_id", "embedding", n_topics=4,
                         sample_mod=5)
    got = {r.vec_id: r for r in base.collect()}
    assert len(got) == 43
    for i in range(40):
        assert 1 <= got[i].topic_id <= 4 and got[i].sim is not None
    for i in (100, 101, 102):
        assert got[i].topic_id is None and got[i].sim is None
    refined = {r.vec_id: r for r in kmeans_topics(
        df, "vec_id", "embedding", n_topics=4, sample_mod=5,
        refine_iters=2).collect()}
    mean0 = sum(got[i].sim for i in range(40)) / 40
    mean2 = sum(refined[i].sim for i in range(40)) / 40
    assert mean2 >= mean0 - 1e-9
    plan = base._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_lit_arrays_bit_exact_and_folded(spark):
    """``lit_doubles``/``lit_longs`` hand back every value bit for bit —
    signed zero, the smallest subnormal, the largest double, 0.1, the
    8x6x64 hyperplane matrix, the long extremes — as ONE folded array
    Literal in the optimized plan; non-finite doubles have no literal."""
    import struct

    from schisma_spark.functions.portable import lit_doubles, lit_longs
    from schisma_spark.functions.similarity import _plane_coefs

    def bits(xs):
        return [struct.pack(">d", x) for x in xs]

    flat = [-0.0, 5e-324, 1.7976931348623157e308, 0.1, -2.5]
    matrix = [row for t in range(8) for row in _plane_coefs(64, 6, f"t{t}")]
    longs = [-(1 << 63), (1 << 63) - 1, 0, -1, 1 << 53]
    df = spark.range(1).select(lit_doubles(flat).alias("d"),
                               lit_doubles(matrix).alias("m"),
                               lit_longs(longs).alias("l"))
    row = df.collect()[0]
    assert bits(row["d"]) == bits(flat)
    assert [bits(r) for r in row["m"]] == [bits(r) for r in matrix]
    assert row["l"] == longs

    plan = spark.range(3).select(
        F.transform(lit_doubles(matrix), lambda p: F.size(p) + F.col("id"))
        .alias("t"))._jdf.queryExecution().optimizedPlan()
    proj = plan.toString()
    assert "from_json" not in proj and "array(" not in proj
    assert proj.count("[[") == 1  # the matrix, as one literal

    for bad in (float("nan"), float("inf"), -float("inf")):
        with pytest.raises(ValueError):
            lit_doubles([1.0, bad])
