"""Property-based tests (hypothesis) — beyond the reference's
example-based goldens (its closest is test/automated.mjs:19-77, the
primitive-pair matrix). Driver-side properties run without Spark; the
Spark properties (recursive validation, banded Hamming pairs) run all
their examples through ONE call per configuration and check them
against a pure-Python reference."""

from __future__ import annotations

import itertools
import json
import math
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from schisma_spark import Field, schema
from schisma_spark.create import create_value, js_boolean, js_number, js_string
from schisma_spark.dsl import parse

finite_floats = st.floats(allow_nan=False, allow_infinity=False, width=64)
scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    finite_floats,
    st.text(max_size=30),
)


@given(scalars)
@settings(max_examples=300, deadline=None)
def test_js_number_total_and_idempotent(v):
    out = js_number(v)
    assert isinstance(out, float)
    if not math.isnan(out):
        assert js_number(out) == out  # numbers are fixed points


@given(scalars)
@settings(max_examples=300, deadline=None)
def test_js_string_total(v):
    out = js_string(v)
    assert isinstance(out, str)
    assert js_string(out) == out  # strings are fixed points


@given(scalars)
@settings(max_examples=300, deadline=None)
def test_js_boolean_matches_js_semantics(v):
    out = js_boolean(v)
    assert isinstance(out, bool)
    if isinstance(v, str):
        assert out == (len(v) > 0)  # only '' is falsy among strings


@given(scalars)
@settings(max_examples=200, deadline=None)
def test_create_conform_closure(v):
    """create(data) always yields a value that validates cleanly against
    the same leaf schema (the conform fixed-point property)."""
    for typ, pred in [
        (float, lambda x: isinstance(x, float)),
        (str, lambda x: isinstance(x, str)),
        (bool, lambda x: isinstance(x, bool)),
    ]:
        node = parse(Field(type=typ, default=typ()))
        out = create_value(node, v)
        assert pred(out), (typ, v, out)
        # idempotence: conforming a conformed value is identity
        assert create_value(node, out) == out or (
            isinstance(out, float) and math.isnan(out)
        )


@given(st.lists(scalars, max_size=6), st.integers(min_value=0, max_value=3))
@settings(max_examples=100, deadline=None)
def test_create_populate_arrays_shape(elems, depth):
    sch = schema({"a": [float] * max(1, depth)})
    out = sch.create(populate_arrays=True)
    assert out["a"] == [0.0] * max(1, depth)


@given(
    st.dictionaries(
        st.text(alphabet="abcdef", min_size=1, max_size=4),
        st.one_of(finite_floats, st.text(max_size=8)),
        max_size=5,
    )
)
@settings(max_examples=100, deadline=None)
def test_object_create_only_required(keys_values):
    defn = {
        k: Field(type=float if isinstance(v, float) else str,
                 required=bool(hash(k) % 2))
        for k, v in keys_values.items()
    }
    if not defn:
        return
    sch = schema(defn)
    out = sch.create()
    assert set(out) == {k for k, f in defn.items() if f.required}


# -- validate_json_recursive against a pure-Python walk of the reference ------

RF = "children"
_names = st.one_of(st.just("n"), st.integers(0, 9), st.none(), st.booleans())
_info_elems = st.lists(st.one_of(st.integers(0, 3), st.fixed_dictionaries(
    {}, optional={"a": st.one_of(st.just("x"), st.integers(0, 3)),
                  "b": st.just(1)})), min_size=1, max_size=3)
_info = st.one_of(  # a non-recursive field whose array is named like RF
    st.fixed_dictionaries({RF: _info_elems}), st.none(), st.just({}),
    st.integers(0, 3), st.just({RF: None}))

_FIELDS = {"name": str,
           "info": Field(typeof=[{RF: [{"a": str}]}], required=False)}


def _trees(depth: int):
    sub = _trees(depth - 1) if depth else st.none()
    kid = st.one_of(sub, sub, sub, st.none(), st.integers(0, 3))
    other = {"name": _names, "nam": st.just("typo"), "info": _info}
    return st.one_of(
        st.fixed_dictionaries({RF: st.lists(kid, min_size=1, max_size=3)},
                              optional=other),
        st.fixed_dictionaries({}, optional={**other, RF: st.sampled_from(
            [[], "nope", None])}))


_doc = _trees(6).map(json.dumps)
_corpus = st.lists(st.tuples(
    # duplicate and NULL keys
    st.integers(-1, 3).map(lambda k: None if k < 0 else k),
    st.one_of(_doc, _doc, st.sampled_from(["{broken", None, "[]"]))),
    min_size=1, max_size=6)


def _walk(v, path, out):
    """Field errors of one node and its subtree (the level schema of
    ``_FIELDS``): missing/wrong-typed keys, unexpected keys, non-object
    nodes, a non-array ``children``."""
    def err(code, *seg):
        out.append((code, ".".join(path + list(seg)) or None))
    if not isinstance(v, dict):
        return err("no match")
    if "name" not in v:
        err("missing key", "name")
    elif not isinstance(v["name"], str):
        err("no match", "name")
    for k in v.keys() - {"name", "info", RF}:
        err("unexpected key", k)
    info = v.get("info", {RF: []})
    if not isinstance(info, dict):
        err("no match", "info")
    elif not isinstance(info.get(RF), list):
        err("missing key" if RF not in info else "no match", "info", RF)
    else:
        for j, e in enumerate(info[RF]):
            p = ["info", RF, str(j)]
            if not isinstance(e, dict):
                err("no match", *p)
            elif not isinstance(e.get("a"), str):
                err("missing key" if "a" not in e else "no match", *p, "a")
            for k in (e.keys() - {"a"} if isinstance(e, dict) else ()):
                err("unexpected key", *p, k)
    kids = v.get(RF, [])
    if not isinstance(kids, list):
        return err("no match", RF)
    for i, c in enumerate(kids):
        _walk(c, path + [RF, str(i)], out)


def _reference(corpus):
    """Field errors per document, plus one INVALID carrier per (document,
    boundary) for every recursion boundary — a pure children.<i> chain —
    that is a strict prefix of a violation path of ANY document sharing
    the key; its value is that document's subtree."""
    rows, paths, docs = [], {}, []
    for key, text in corpus:
        if text is None:
            continue
        try:
            doc = json.loads(text)
        except ValueError:
            rows.append((key, "invalid", None, None))
            continue
        out: list = []
        _walk(doc, [], out)
        rows += [(key, code, w, None) for code, w in out]
        docs.append((key, doc))
        for _, w in out:
            s = (w or "").split(".")
            for j in range(1, len(s) - 1, 2):
                if s[j - 1] != RF or not s[j].isdigit():
                    break
                paths.setdefault(key, set()).add(".".join(s[:j + 1]))
    for key, doc in docs:
        for p in paths.get(key, ()) if key is not None else ():
            v = doc
            for i in map(int, p.split(".")[1::2]):
                kids = v.get(RF) if isinstance(v, dict) else None
                v = kids[i] if isinstance(kids, list) and i < len(kids) else ...
            if v is not ...:
                rows.append((key, "invalid", p, json.dumps(v, sort_keys=True)))
    return rows


def test_recursive_validate_matches_reference_walk(spark):
    """Random trees (depth <= 6, fan-out <= 3) with wrong-typed, missing
    and misspelt names, non-object and JSON-null children, a non-array
    ``children``, malformed and NULL documents, duplicate and NULL keys,
    and a non-recursive field holding an array named ``children``: the
    engine's rows equal the reference walk's. All examples run as ONE
    frame through ONE call."""
    from pyspark.sql import Row

    from schisma_spark.recursive_validate import validate_json_recursive

    corpora = []

    @given(_corpus)
    @settings(max_examples=100, deadline=None, derandomize=True,
              database=None)
    def draw(c):
        corpora.append(c)

    draw()
    df = spark.createDataFrame(
        [Row(ex=n, id=k, doc=d) for n, c in enumerate(corpora)
         for k, d in c], "ex int, id int, doc string")
    got = validate_json_recursive(df, "doc", _FIELDS, keys=["ex", "id"])
    want = Counter(((n, key), code, where, value)
                   for n, c in enumerate(corpora)
                   for key, code, where, value in _reference(c))
    rows = Counter(
        ((r["ex"], r["id"]), r["code"], r["where"],
         json.dumps(json.loads(r["value"]), sort_keys=True)
         if r["code"] == "invalid" and r["where"] is not None else None)
        for r in got.collect())
    assert rows == want
    assert sum(1 for r in want if r[1] == "invalid" and r[2]) > 20



# -- banded Hamming pairs against brute-force all pairs ------------------------

_sig64 = st.integers(-(2**63), 2**63 - 1)


def _hamming_corpus(max_h: int):
    """Base signatures, each with planted neighbours at 0 to ``max_h + 1``
    flipped bits (one past the radius, so the cut is tested from both
    sides)."""
    flips = st.sets(st.integers(0, 63), max_size=max_h + 1)
    return st.lists(st.tuples(_sig64, st.lists(flips, max_size=3)),
                    min_size=1, max_size=8)


def _flip(sig: int, bits) -> int:
    u = (sig % 2**64) ^ sum(1 << b for b in bits)
    return u - 2**64 if u >= 2**63 else u


@pytest.mark.parametrize("n_bands,band_bits", [(4, 8), (4, 16), (6, 10)])
def test_hamming_near_dups_equals_all_pairs(spark, n_bands, band_bits):
    """The pigeonhole contract of ``hamming_near_dups`` (and of
    ``simhash_near_dups``, its (4, 8) shape): with ``max_hamming <
    n_bands`` the banded pairs are EXACTLY the all-pairs ``d <=
    max_hamming`` set. Random 64-bit signatures with planted neighbours;
    all corpora run as ONE frame (ids offset per corpus, cross-corpus
    pairs dropped). ``max_bucket_size`` output is the same at 1, 3 and 7
    input partitions."""
    from schisma_spark.functions.dedup import hamming_near_dups

    max_h = n_bands - 1
    corpora = []

    @given(_hamming_corpus(max_h))
    @settings(max_examples=60, deadline=None, derandomize=True,
              database=None)
    def draw(c):
        corpora.append([s for base, nbrs in c
                        for s in [base] + [_flip(base, f) for f in nbrs]])

    draw()
    rows = [(n * 1000 + i, s) for n, sigs in enumerate(corpora)
            for i, s in enumerate(sigs)]
    want = {(a, b, d) for (a, sa), (b, sb) in itertools.combinations(rows, 2)
            if a // 1000 == b // 1000
            and (d := bin((sa ^ sb) % 2**64).count("1")) <= max_h}
    df = spark.createDataFrame(rows, "id long, sig long")

    def pairs(frame, cap=None):
        out = hamming_near_dups(frame, "sig", "id", max_hamming=max_h,
                                n_bands=n_bands, band_bits=band_bits,
                                max_bucket_size=cap)
        return {(r.id_a, r.id_b, r.hamming) for r in out.collect()
                if r.id_a // 1000 == r.id_b // 1000}

    assert pairs(df) == want
    assert {d for _, _, d in want} == set(range(max_h + 1))
    capped = [pairs(df.repartition(n), cap=2) for n in (1, 3, 7)]
    assert capped[0] == capped[1] == capped[2]
    assert capped[0] < want


# -- connected components against a union-find ---------------------------------

_shape = st.one_of(
    st.integers(2, 200).flatmap(
        lambda n: st.tuples(st.just("chain"), st.permutations(range(n)))),
    st.integers(2, 30).map(lambda n: ("star", list(range(n)))),
    st.integers(3, 6).map(lambda n: ("clique", list(range(n)))),
    st.just(("pair", [0, 1])),
)


def _shape_edges(kind: str, ids: list) -> list:
    if kind == "chain":  # ``ids`` is a permutation: chain order != id order
        return list(zip(ids, ids[1:]))
    if kind == "star":
        return [(ids[len(ids) // 2], i) for i in ids if i != ids[len(ids) // 2]]
    if kind == "clique":
        return list(itertools.combinations(ids, 2))
    return [tuple(ids)]


def _union_find(edges) -> dict:
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("ids", ["long", "string"])
def test_connected_components_equals_union_find(spark, ids):
    """CC's fixpoint contract: every node's label is the least id of its
    component, i.e. exactly a union-find's root under ``min``. Random
    chains (up to 200 nodes, in shuffled id order, plus one 200-chain
    always), stars, cliques and isolated pairs; string ids compare
    lexicographically (``"n10" < "n9"``). All shapes run as ONE graph
    (disjoint id ranges) with the input spread over 1 and 7 partitions."""
    from schisma_spark.functions.dedup import connected_components

    shapes = [("chain", list(range(199, -1, -1)))]

    @given(st.lists(_shape, min_size=1, max_size=4))
    @settings(max_examples=25, deadline=None, derandomize=True,
              database=None)
    def draw(s):
        shapes.extend(s)

    draw()
    edges, base = [], 0
    for kind, local in shapes:
        edges += [(base + a, base + b) for a, b in _shape_edges(kind, local)]
        base += len(local)
    if ids == "string":
        edges = [(f"n{a}", f"n{b}") for a, b in edges]
    want = _union_find(edges)
    assert max(Counter(want.values()).values()) == 200
    df = spark.createDataFrame(edges, f"id_a {ids}, id_b {ids}")
    for n in (1, 7):
        got = {r["node"]: r["component"] for r in
               connected_components(df.repartition(n)).collect()}
        assert got == want, n
