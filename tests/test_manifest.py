"""Checkpoint/resume (FIXTURES.md C; BASELINE.json:14): kill after k
partitions, rerun, assert only the rest execute and final metrics equal an
uninterrupted run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import schisma_spark.manifest as manifest_mod
from schisma_spark import Field, schema
from schisma_spark.image.fixtures import images_schema_dsl, images_table
from schisma_spark.manifest import Manifest
from schisma_spark.runner import RunConfig, ValidationRun


@pytest.fixture()
def imgs(spark):
    return images_table(spark, 600, seed=42).cache()


def test_resume_skips_done_partitions(spark, imgs, tmp_path):
    run = ValidationRun(images_schema_dsl(), RunConfig())
    mpath = str(tmp_path / "manifest")

    # interrupted run: only 7 of 16 partitions complete
    r1 = run.run_resumable(imgs, mpath, batch_partitions=7)
    assert len(r1.manifest_records) == 7
    m = Manifest(mpath)
    assert len(m.done_partitions()) == 7

    # resumed run: exactly the remaining 9, no re-execution of done ones
    r2 = run.run_resumable(imgs, mpath)
    assert len(r2.manifest_records) == 9
    done_after = m.done_partitions()
    assert len(done_after) == 16
    parts_r2 = {r["partition"] for r in r2.manifest_records}
    parts_r1 = {r["partition"] for r in r1.manifest_records}
    assert not (parts_r1 & parts_r2)

    # metrics identical to an uninterrupted run
    clean_path = str(tmp_path / "manifest2")
    run.run_resumable(imgs, clean_path)
    assert m.metrics() == Manifest(clean_path).metrics()

    # third invocation: nothing left to do
    r3 = run.run_resumable(imgs, mpath)
    assert r3.manifest_records == []


def test_manifest_atomic_append(tmp_path):
    m = Manifest(str(tmp_path / "m"))
    m.append([{"partition": "0", "status": "done", "n_rows": 10,
               "n_violations": 0, "n_bad_rows": 0, "verdict": "pass"}])
    m.append([{"partition": "1", "status": "done", "n_rows": 5,
               "n_violations": 2, "n_bad_rows": 1, "verdict": "fail"}])
    assert m.done_partitions() == {"0", "1"}
    assert m.metrics()["n_rows"] == 15
    assert m.metrics()["n_violations"] == 2


def test_lineage_recorded(spark, imgs, tmp_path):
    run = ValidationRun(images_schema_dsl(), RunConfig())
    mpath = str(tmp_path / "m")
    run.run_resumable(imgs, mpath, lineage={"input": "synthetic://images",
                                            "seed": 42})
    recs = Manifest(mpath).records()
    assert all(r["lineage"]["seed"] == 42 for r in recs)
    assert all("finished_at" in r for r in recs)


def test_plan_remaining_partition_cap(spark, tmp_path):
    """Driver-bound contract (r1 VERDICT #9): an adversarially fine
    partition column fails loudly instead of collecting unbounded rows."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from schisma_spark.manifest import Manifest, plan_remaining

    df = spark.range(500).select(F.col("id").alias("part"),
                                 F.lit(1.0).alias("v"))
    m = Manifest(str(tmp_path / "m"))
    with _pytest.raises(ValueError, match="distinct values"):
        plan_remaining(df, "part", m, max_partitions=100)
    # at or below the cap it plans normally
    sub, remaining = plan_remaining(df, "part", m, max_partitions=500)
    assert len(remaining) == 500 and sub is not None


@pytest.fixture()
def plan_calls(monkeypatch):
    calls = []
    real = manifest_mod.plan_remaining

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(manifest_mod, "plan_remaining", counting)
    return calls


def test_fresh_manifest_runs_no_planning_job(spark, imgs, tmp_path,
                                             plan_calls):
    """A fresh manifest with no batch limit processes the whole table
    without the distinct(part) planning job; resumed and batched runs
    still plan, and both routes give the same manifest metrics."""
    run = ValidationRun(images_schema_dsl(), RunConfig())
    fresh = Manifest(str(tmp_path / "fresh"))
    res = run.run_resumable(imgs, fresh.path)
    assert plan_calls == []
    assert len(res.manifest_records) == 16 and res.batch is imgs

    batched = Manifest(str(tmp_path / "batched"))
    run.run_resumable(imgs, batched.path, batch_partitions=5)
    run.run_resumable(imgs, batched.path)
    assert len(plan_calls) == 2
    assert batched.metrics() == fresh.metrics()
    assert fresh.metrics()["n_rows"] == 600


def test_fresh_manifest_partition_cap(spark, tmp_path, plan_calls,
                                      monkeypatch):
    """Without the planning job the verdict collect carries the driver
    bound: a too-fine part column raises before any sink or manifest
    write."""
    monkeypatch.setattr(manifest_mod, "MAX_PARTITIONS", 100)
    df = spark.range(500).select("id", F.col("id").alias("part"),
                                 F.lit(1.0).alias("v"))
    run = ValidationRun(schema({"v": Field(type=float)}),
                        RunConfig(keys=("id",), unique_on=()))
    sinks = []
    mpath = str(tmp_path / "m")
    with pytest.raises(ValueError, match="distinct values"):
        run.run_resumable(df, mpath, sinks=lambda *a: sinks.append(a))
    assert plan_calls == [] and sinks == []
    assert Manifest(mpath).records() == []
    # at the cap it runs
    run.run_resumable(df.where("part < 100"), mpath,
                      sinks=lambda *a: sinks.append(a))
    assert len(sinks) == 1 and Manifest(mpath).metrics()["n_partitions"] == 100
