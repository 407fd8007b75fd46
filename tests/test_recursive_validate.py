"""Unbounded-depth recursive JSON validation — golden-matched against the
reference run (test/recursiveSchema.mjs pattern, array-return carriers)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row

from schisma_spark.recursive_validate import validate_json_recursive

GOOD = json.dumps({
    "name": "Parent",
    "children": [
        {"name": "Child", "children": [{"name": "Grandchild"}]},
    ],
})
BAD = json.dumps({
    "name": "Parent",
    "children": [
        {"name": "Child", "children": [{"name": 42}, {"nam": "typo"}]},
        {"name": "Child2"},
    ],
})


def _run(spark, docs):
    df = spark.createDataFrame([Row(id=i, doc=d) for i, d in enumerate(docs)])
    return validate_json_recursive(df, "doc", {"name": str}, keys=["id"])


def test_recursive_clean_tree_no_violations(spark):
    assert _run(spark, [GOOD]).count() == 0


def test_recursive_golden_vs_reference(spark):
    """Exact rows the reference emits for BAD (captured by running
    /root/reference/src/schisma.mjs on the same tree): three boundary
    carriers + three field errors."""
    rows = _run(spark, [BAD]).collect()
    got = sorted((r["code"], r["where"]) for r in rows)
    assert got == sorted([
        ("invalid", "children.0"),                      # carrier
        ("invalid", "children.0.children.0"),           # carrier
        ("invalid", "children.0.children.1"),           # carrier
        ("no match", "children.0.children.0.name"),
        ("missing key", "children.0.children.1.name"),
        ("unexpected key", "children.0.children.1.nam"),
    ])
    by_where = {r["where"]: r for r in rows}
    # carrier value = the subtree JSON (reference keeps the JS object)
    assert json.loads(by_where["children.0.children.1"]["value"]) == \
        {"nam": "typo"}
    assert json.loads(by_where["children.0"]["value"])["name"] == "Child"
    assert by_where["children.0.children.0.name"]["received"] == "number"


def test_recursive_depth_beyond_any_compile_limit(spark):
    # 60 levels deep — far past dsl.recursive()'s practical expansion —
    # with one planted error at the bottom
    doc: dict = {"name": 0}
    for _ in range(60):
        doc = {"name": "n", "children": [doc]}
    rows = _run(spark, [json.dumps(doc)]).collect()
    deepest = "children.0" * 1  # the error sits at depth 60
    err = [r for r in rows if r["code"] == "no match"]
    assert len(err) == 1
    assert err[0]["where"].count("children") == 60
    # one carrier per ancestor boundary
    assert sum(1 for r in rows if r["code"] == "invalid") == 60


def test_recursive_max_depth_guard(spark):
    doc: dict = {"name": "leaf"}
    for _ in range(12):
        doc = {"name": "n", "children": [doc]}
    df = spark.createDataFrame([Row(id=1, doc=json.dumps(doc))])
    with pytest.raises(RuntimeError, match="max_depth"):
        validate_json_recursive(df, "doc", {"name": str}, keys=["id"],
                                max_depth=5).count()


def test_recursive_max_depth_boundary_inclusive(spark):
    """r4 review regression: a document nested EXACTLY max_depth levels
    must validate cleanly — the guard fires only on a non-empty frontier
    beyond the limit (the r4 loop restructure briefly raised here)."""
    doc: dict = {"name": "leaf"}
    for _ in range(5):
        doc = {"name": "n", "children": [doc]}
    df = spark.createDataFrame([Row(id=1, doc=json.dumps(doc))])
    rows = validate_json_recursive(df, "doc", {"name": str}, keys=["id"],
                                   max_depth=5).collect()
    assert rows == []  # clean corpus, no violations, no raise


def test_recursive_storage_and_plan_discipline(spark):
    """r2 VERDICT #1: (a) no lingering persisted frontiers once the call
    returns — clean corpora leave storage exactly as found; (b) a clean
    corpus never computes subtree ``to_json`` (the carrier pass is skipped
    entirely); (c) a problem corpus persists only the small per-level
    violation frames, never the frontiers."""
    jsc = spark.sparkContext._jsc

    before = jsc.getPersistentRDDs().size()
    out = _run(spark, [GOOD] * 5)
    assert out.count() == 0
    assert jsc.getPersistentRDDs().size() == before
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "to_json" not in plan

    # problem corpus: result-sized localCheckpoints only — BAD has
    # violations at level 2 alone, so one frame; carriers are a lazy
    # join, and a lingering frontier would add one per level (3)
    before_bad = jsc.getPersistentRDDs().size()
    assert _run(spark, [BAD]).count() == 6
    growth = jsc.getPersistentRDDs().size() - before_bad
    assert growth <= 1, f"unexpected persisted frames: {growth}"


def test_recursive_runs_one_job_per_level(spark):
    """A depth-1 corpus with field errors at depth 1 costs at most 8 Spark
    jobs, the caller's collect included: one per level, one for the level
    that has violations, and the collect of violations plus carriers."""
    docs = [json.dumps({"name": "n", "children": [{"name": i % 3 or "c"}]})
            for i in range(40)]
    df = spark.createDataFrame([Row(id=i, doc=d) for i, d in enumerate(docs)])
    sc = spark.sparkContext
    group = "recursive-job-count"
    sc.setJobGroup(group, "validate_json_recursive")
    try:
        rows = validate_json_recursive(df, "doc", {"name": str},
                                       keys=["id"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted((r["code"], r["where"]) for r in rows if r["id"] == 1) \
        == [("invalid", "children.0"), ("no match", "children.0.name")]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 8, f"{len(jobs)} jobs"


def test_recursive_malformed_and_nonarray_children(spark):
    docs = ['{broken', json.dumps({"name": "x", "children": "nope"})]
    rows = _run(spark, docs).collect()
    codes = sorted((r["id"], r["code"]) for r in rows)
    assert (0, "invalid") in codes          # malformed json
    assert (1, "no match") in codes         # children not an array
