"""The compiled-Column memo (``session.cached_column``) and the Python
worker's zip guard (``session.worker_init``).

Memo contracts: a hit plans and returns exactly what a fresh compile does;
a schema mutated in place, a new ``$validate`` callable or other input
types never hit a stale entry; a new JVM starts empty; the LRU bound
holds; and a second identical call costs at most a quarter of the first
call's py4j round trips. Zip guard: an unchanged archive is not re-read per
task, a changed one is, and a zip shipped with ``addPyFile`` that changes
under a reused worker is still imported from."""

from __future__ import annotations

import dataclasses
import hashlib
import os
import re
import sys
import threading
import time
import zipfile
import zipimport

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark import Field, Null, schema, session
from schisma_spark.dsl import Unmarshal, fingerprint, parse
from schisma_spark.functions.dedup import simhash64_near_dups
from schisma_spark.functions.similarity import cosine_near_dups
from schisma_spark.json_validate import conform_json, validate_json
from schisma_spark.recursive_validate import validate_json_recursive
from schisma_spark.validate import validate, validate_column
from schisma_spark.variant_validate import validate_variant


@pytest.fixture
def rel(spark):
    return spark.createDataFrame(
        [(1, 2.0, "a", "5", {"x_a": 1.0, "k": 2.0}),
         (2, -1.0, None, "z", {"x_b": -3.0}),
         (3, None, "b", None, None)],
        "id long, x double, s string, t string, m map<string,double>")


@pytest.fixture
def events(spark):
    return spark.createDataFrame(
        [(1, '{"k": 1.5, "x_a": "q"}'), (2, '{"k": "b", "zz": 1}'),
         (3, "{}"), (4, '{"k": null}'), (5, "{broken"), (6, None),
         (7, '{"k": 2, "nested": {"a": "5", "junk": true}}')],
        "event_id long, payload string")


def _norm(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#", plan)
    seen: dict = {}

    def lam(m):
        return seen.setdefault(m.group(0), f"{m.group(1)}_{len(seen)}")

    return re.sub(r"\b([a-z]+)_(\d+)\b", lam, plan)


def _digest(df) -> tuple[str, str]:
    rows = sorted(map(repr, map(tuple, df.collect())))
    return (_norm(df._jdf.queryExecution().optimizedPlan().toString()),
            hashlib.md5("\n".join(rows).encode()).hexdigest())


def _corpus(rel, events):
    pos = lambda c: c > 0  # noqa: E731
    unm = Unmarshal(fn=lambda c: c.try_cast("double"),
                    returns=T.DoubleType())
    return {
        "validate_union": lambda: validate(rel, schema({
            "x": Field(typeof=[float, Null]), "s": Field(typeof=[str, int]),
        }), keys=["id"], ignore_unexpected=True).violations,
        "validate_regex_map": lambda: validate(rel, schema({
            "m": Field(typeof=[{"k": float, "$/^x_": [float, str]}],
                       required=False),
        }), keys=["id"], ignore_unexpected=True).violations,
        "validate_validate": lambda: validate(rel, schema({
            "x": Field(type=float, validate=pos),
        }), keys=["id"], ignore_unexpected=True).overall(),
        "validate_unmarshal": lambda: validate(rel, schema({
            "t": Field(type=float, unmarshal=unm, required=False),
        }), keys=["id"], ignore_unexpected=True).violations,
        "validate_column": lambda: validate_column(
            rel, "x", schema(Field(typeof=[float, Null], validate=pos)),
            keys=["id"]).violations,
        "conform": lambda: schema({
            "x": Field(type=float, default=0.0), "s": Field(typeof=[str]),
            "q": Field(type=int, default=7),
        }).conform(rel, keys=["id"]),
        "validate_variant_regex": lambda: validate_variant(
            events, "payload", schema({
                "k": Field(typeof=[float, Null]), "$/^x_": [str, float],
            }), keys=["event_id"]).violations,
        "validate_json": lambda: validate_json(
            events, "payload", schema({"k": float, "$/^x_": [str]}),
            keys=["event_id"]).violations,
        "conform_json": lambda: conform_json(events, "payload", schema({
            "k": Field(type=float, default=-1.0),
            "nested": Field(typeof=[{"a": float,
                                     "b": Field(type=str, default="x")}],
                            required=False),
            "$/^x_": [str],
        })),
    }


def test_memo_hit_plans_and_rows_like_a_fresh_compile(rel, events):
    for name, build in _corpus(rel, events).items():
        session._memo.clear()
        fresh = _digest(build())
        n = len(session._memo)
        assert n, name  # the call went through the memo
        hit = _digest(build())
        assert len(session._memo) == n, name  # ... and hit it
        assert hit == fresh, name


def test_recursive_memo_hit_matches_fresh_compile(spark):
    docs = spark.createDataFrame(
        [(1, '{"name":"n","children":[{"name":3},{"name":"c"}]}'),
         (2, '{"name":"m"}'), (3, "nope")], "id long, doc string")
    session._memo.clear()
    fresh = sorted(map(tuple, validate_json_recursive(
        docs, "doc", {"name": str}, keys=["id"]).collect()))
    hit = sorted(map(tuple, validate_json_recursive(
        docs, "doc", {"name": str}, keys=["id"]).collect()))
    assert hit == fresh
    assert {r[2] for r in fresh} >= {"children.0.name", "children.0"}


def test_memo_never_serves_a_stale_compile(spark, rel):
    def codes(res):
        return sorted((r["id"], r["code"], r["where"])
                      for r in res.violations.collect())

    # a schema mutated in place gets a new key
    sch = schema({"x": float})
    before = codes(validate(rel, sch, keys=["id"], ignore_unexpected=True))
    sch.root.alts[0].fields["x"] = parse(str)
    after = codes(validate(rel, sch, keys=["id"], ignore_unexpected=True))
    assert before == [(3, "missing key", "x")]
    assert after == [(1, "no match", "x"), (2, "no match", "x"),
                     (3, "missing key", "x")]

    # equal schemas with different $validate callables
    def with_check(fn):
        return codes(validate(rel, schema({"x": Field(type=float,
                                                      validate=fn)}),
                              keys=["id"], ignore_unexpected=True))

    assert with_check(lambda c: c > 0) == [(2, "invalid", "x"),
                                           (3, "missing key", "x")]
    assert with_check(lambda c: c < 0) == [(1, "invalid", "x"),
                                           (3, "missing key", "x")]

    @dataclasses.dataclass
    class Negative:  # eq without frozen: unhashable, so never memoized
        def __call__(self, c):
            return c < 0

    n = len(session._memo)
    assert with_check(Negative()) == [(1, "invalid", "x"),
                                      (3, "missing key", "x")]
    assert len(session._memo) == n

    # the same schema over other input types
    sch = schema({"x": float})
    as_str = rel.select("id", F.col("x").cast("string").alias("x"))
    assert codes(validate(as_str, sch, keys=["id"])) == [
        (1, "no match", "x"), (2, "no match", "x"), (3, "missing key", "x")]
    assert codes(validate(rel.select("id", "x"), sch, keys=["id"])) == [
        (3, "missing key", "x")]


def test_fingerprint_keys_callables_by_identity_and_defaults_by_value():
    f = lambda c: c > 0  # noqa: E731
    a = schema({"x": Field(type=float, validate=f, default=1.0)})
    b = schema({"x": Field(type=float, validate=f, default=1.0)})
    assert fingerprint(a.root) == fingerprint(b.root)
    assert hash(fingerprint(a.root)) == hash(fingerprint(b.root))
    c = schema({"x": Field(type=float, validate=lambda c: c > 0,
                           default=1.0)})
    assert fingerprint(c.root) != fingerprint(a.root)
    d = schema({"x": Field(type=float, validate=f, default=1)})
    assert fingerprint(d.root) != fingerprint(a.root)
    assert fingerprint(schema({"$/^a": [int], "$/^b": [int]}).root) != \
        fingerprint(schema({"$/^b": [int], "$/^a": [int]}).root)


def test_new_jvm_starts_empty_and_lru_bound_holds(monkeypatch, spark):
    session.cached_column(("probe", 0), lambda: F.lit(0))
    assert ("probe", 0) in session._memo
    built = []

    def build(i):
        def b():
            built.append(i)
            return F.lit(i)
        return b

    # another gateway is another JVM: nothing of the old one is visible
    monkeypatch.setattr(SparkContext, "_gateway", object())
    session.cached_column(("probe", 0), build(0))
    assert built == [0] and list(session._memo) == [("probe", 0)]
    monkeypatch.undo()

    monkeypatch.setattr(session, "COLUMN_MEMO_SIZE", 3)
    session._memo.clear()
    built.clear()
    for i in range(5):
        session.cached_column(("lru", i), build(i))
        session.cached_column(("lru", 0), build(0))  # keep 0 recent
    assert len(session._memo) == 3
    assert list(session._memo) == [("lru", 3), ("lru", 4), ("lru", 0)]
    assert built == [0, 1, 2, 3, 4]
    with pytest.raises(TypeError):
        session.cached_column(("df",), lambda: spark.range(1))


def test_concurrent_callers_share_one_entry_per_key(monkeypatch):
    # plain objects stand in for Columns: no JVM call, only the store
    monkeypatch.setattr(SparkContext, "_gateway", object())
    keys = [("stress", i) for i in range(40)]
    got: dict = {k: set() for k in keys}
    errors = []

    def build():
        time.sleep(0.001)  # hold the build-then-insert window open
        return object()

    def worker(seed):
        try:
            for j in range(3000):
                k = keys[(seed * 7 + j) % len(keys)]
                got[k].add(id(session.cached_column(k, build)))
        except Exception as e:  # reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert not errors
    assert len(session._memo) == len(keys)
    # two threads that built one key at once still hand out ONE object
    assert all(len(ids) == 1 for ids in got.values())


def test_second_identical_call_costs_a_quarter_of_the_round_trips(
        spark, rel, events):
    docs = spark.createDataFrame(
        [(1, '{"name":"n","children":[{"name":3}]}'), (2, '{"name":"m"}')],
        "id long, doc string")
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) + 0.5 for j in range(8)])
         for i in range(6)], "vec_id long, embedding array<double>")
    txt = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 2}") for i in range(6)],
        "doc_id long, text string")
    def pos(c):
        return c > 0

    calls = {
        "validate": lambda: validate(rel, schema({
            "x": Field(type=float, validate=pos),
            "s": Field(typeof=[str, Null]),
        }), keys=["id"], ignore_unexpected=True).violations,
        "validate_variant": lambda: validate_variant(
            events, "payload", schema({"k": Field(typeof=[float, Null])}),
            keys=["event_id"]).violations,
        "conform_json": _corpus(rel, events)["conform_json"],
        "validate_json_recursive": lambda: validate_json_recursive(
            docs, "doc", {"name": str}, keys=["id"]),
        "cosine_near_dups": lambda: cosine_near_dups(
            emb, "vec_id", "embedding", 8, threshold=0.99, n_tables=8,
            n_planes=6),
        "simhash64_near_dups": lambda: simhash64_near_dups(
            txt, "text", "doc_id", max_hamming=3),
    }
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = [0]

    def counting(cmd, *a, **kw):
        if not cmd.startswith("m\n"):  # py4j's GC deletes vary by run
            sent[0] += 1
        return real(cmd, *a, **kw)

    client.send_command = counting
    try:
        for name, call in calls.items():
            session._memo.clear()
            counts = []
            for _ in range(2):
                sent[0] = 0
                call()
                counts.append(sent[0])
            assert counts[1] <= counts[0] / 4, (name, counts)
    finally:
        del client.send_command


def test_warm_violations_access_reuses_its_projection(spark, events):
    """``ValidationResult.violations`` takes its explode and per-field
    Columns from the memo, keyed on the key names: a warm access sends
    only its selects, at least two commands (``col`` + ``alias``) per
    violation field fewer than an access that builds the projection."""
    from schisma_spark.result import VIOLATION_FIELDS

    res = validate_variant(events, "payload",
                           schema({"k": Field(typeof=[float, Null])}),
                           keys=["event_id"])
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = [0]

    def counting(cmd, *a, **kw):
        if not cmd.startswith("m\n"):  # py4j's GC deletes vary by run
            sent[0] += 1
        return real(cmd, *a, **kw)

    def access() -> int:
        sent[0] = 0
        res.violations
        return sent[0]

    client.send_command = counting
    try:
        session._memo.pop(("violations", ("event_id",)), None)
        cold, warm = access(), access()
    finally:
        del client.send_command
    assert warm <= cold - 2 * len(VIOLATION_FIELDS), (cold, warm)


# -- zip guard -------------------------------------------------------------


def _write_zip(path, modules: dict) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13 zip importers re-read lazily")
def test_zip_guard_rereads_an_archive_only_when_it_changed(tmp_path,
                                                           monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(session, "_zip_guard", False)
    session.worker_init()
    session.worker_init()  # once per process
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    z = str(tmp_path / "g.zip")
    _write_zip(z, {"gpkg/__init__.py": "", "gpkg/a.py": "V = 1\n"})
    top, sub = zipimport.zipimporter(z), zipimport.zipimporter(
        os.path.join(z, "gpkg"))
    reads.clear()
    for _ in range(3):
        top.invalidate_caches()
        sub.invalidate_caches()
    assert reads == [z]  # the first stamp, then never again
    _write_zip(z, {"gpkg/__init__.py": "", "gpkg/a.py": "V = 1\n",
                   "gpkg/b.py": "V = 2\n"})
    top.invalidate_caches()
    sub.invalidate_caches()
    assert reads == [z, z]
    assert sub.find_spec("b") is not None  # the other importer is synced


def test_changed_pyfile_zip_is_reimported_by_a_reused_worker(spark,
                                                             tmp_path):
    from pyspark import SparkFiles

    sc = spark.sparkContext
    src = str(tmp_path / "zguard_pkg.zip")
    _write_zip(src, {"zguard_pkg/__init__.py": "",
                     "zguard_pkg/a.py": "V = 1\n"})
    sc.addPyFile(src)

    def task(mod):
        def fn(it):
            session.worker_init()
            import importlib

            m = importlib.import_module(f"zguard_pkg.{mod}")
            path = next(p for p in sys.path if p.endswith("zguard_pkg.zip"))
            for _ in it:
                pass
            yield (os.getpid(), m.V, path)
        return fn

    def run(mod):
        (pid, v, path), = sc.parallelize([0], 1).mapPartitions(
            task(mod)).collect()
        return pid, v, path

    # a worker's first task installs the guard and its second records the
    # archive stamps; only from then on is a re-read skipped
    tasks: dict = {}
    for _ in range(12):
        pid, v, shipped = run("a")
        assert v == 1
        tasks[pid] = tasks.get(pid, 0) + 1
        if tasks[pid] >= 3:
            break
    assert tasks[pid] >= 3
    assert os.path.dirname(shipped) == SparkFiles.getRootDirectory()
    # the shipped copy changes under the live worker: a new module, a new
    # size and a new mtime
    _write_zip(shipped, {"zguard_pkg/__init__.py": "",
                         "zguard_pkg/a.py": "V = 1\n",
                         "zguard_pkg/b.py": "V = 22\n"})
    seen = set()
    for _ in range(12):
        p, v, _s = run("b")
        assert v == 22
        seen.add(p)
        if pid in seen:
            break
    assert pid in seen  # the worker that skipped re-reads imported the new
