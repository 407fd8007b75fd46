"""Driver-side plan construction: the session turns off PySpark's per-call
call-site capture, and every ValidationRun entry point (and a validation
stream) compiles the schema exactly once."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql.streaming import DataStreamReader

import schisma_spark.runner as runner_mod
import schisma_spark.streaming as streaming_mod
from schisma_spark.image.fixtures import (
    IMAGES_SCHEMA,
    dim_fmt,
    images_schema_dsl,
    images_table,
)
from schisma_spark.manifest import Manifest
from schisma_spark.runner import RunConfig, ValidationRun

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# The flag is a static conf, fixed when a session starts, so the check runs
# in its own Python process (and JVM) rather than on the test session.
SESSION_SCRIPT = r"""
import json

from pyspark import SparkContext
from pyspark.errors import utils
from pyspark.sql import functions as F

from schisma_spark.session import attach_session, build_session

K = "spark.python.sql.dataFrameDebugging.enabled"
out = {}
for name, extra in (("default", None), ("extra", {K: "true"})):
    utils._enable_debugging_cache = None  # PySpark reads it once a process
    s = build_session(master="local[1]", extra=extra)
    F.col("x") + 1
    out[name] = [s.conf.get(K), utils._enable_debugging_cache]
    s.stop()
out["attach"] = attach_session().conf.get(K)
SparkContext._active_spark_context.stop()
# what spark-submit --conf K=true leaves for the driver to read
SparkContext._jvm.java.lang.System.setProperty(K, "true")
out["attach_submitted"] = attach_session().conf.get(K)
SparkContext._active_spark_context.stop()
print(json.dumps(out))
"""


def test_sessions_turn_off_call_site_capture(tmp_path):
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g",
           "PYTHONPATH": os.pathsep.join(
               [REPO, os.environ.get("PYTHONPATH", "")])}
    out = subprocess.run([sys.executable, "-c", SESSION_SCRIPT], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["default"] == ["false", False]
    assert got["extra"] == ["true", True]
    assert got["attach"] == "false"
    assert got["attach_submitted"] == "true"


@pytest.fixture
def validate_calls(monkeypatch):
    calls = []
    real = runner_mod.validate

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(runner_mod, "validate", counting)
    return calls


def test_run_resumable_compiles_once(spark, tmp_path, validate_calls):
    imgs = images_table(spark, 400, seed=42)
    run = ValidationRun(images_schema_dsl(), RunConfig())
    mpath = str(tmp_path / "manifest")
    dims = {("fmt",): (dim_fmt(spark), ("fmt",))}
    written = {}

    def sinks(viols, verd):
        written["viols"] = viols.count()
        written["verdicts"] = verd.count()

    r1 = run.run_resumable(imgs, mpath, batch_partitions=7, dims=dims,
                           sinks=sinks)
    assert len(validate_calls) == 1
    assert len(r1.manifest_records) == 7 == written["verdicts"]
    assert written["viols"] > 0

    r2 = run.run_resumable(imgs, mpath, dims=dims)  # the other 9 partitions
    assert len(validate_calls) == 2
    assert len(r2.manifest_records) == 9

    validate_calls.clear()
    r3 = run.run_resumable(imgs, mpath, dims=dims)  # nothing left to do
    assert len(validate_calls) == 0  # its empty frames are built on read
    assert r3.manifest_records == []
    assert r3.violations.count() == 0 and r3.verdicts.count() == 0
    assert len(validate_calls) <= 1
    assert r3.violations.schema == r1.violations.schema
    assert r3.verdicts.schema == r1.verdicts.schema


def test_write_outputs_compiles_once(spark, tmp_path, validate_calls):
    imgs = images_table(spark, 400, seed=42)
    run = ValidationRun(images_schema_dsl(), RunConfig())
    vp, gp = str(tmp_path / "viols"), str(tmp_path / "verdicts")
    run.write_outputs(imgs, vp, gp,
                      dims={("fmt",): (dim_fmt(spark), ("fmt",))})
    assert len(validate_calls) == 1
    assert spark.read.parquet(gp).count() == 16
    assert spark.read.parquet(vp).count() > 0


def test_validate_stream_compiles_once_per_query(spark, tmp_path,
                                                 monkeypatch):
    """Two micro-batches, one compile; each batch's manifest records are
    the ones a fresh per-batch validate() gives."""
    real = streaming_mod.validate
    calls = []

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(streaming_mod, "validate", counting)
    # one input file per micro-batch
    parquet = DataStreamReader.parquet
    monkeypatch.setattr(
        DataStreamReader, "parquet",
        lambda self, path: parquet(self.option("maxFilesPerTrigger", 1),
                                   path))
    inp = str(tmp_path / "in")
    imgs = images_table(spark, 400, seed=42)
    imgs.where("part < 8").coalesce(1).write.parquet(inp)
    imgs.where("part >= 8").coalesce(1).write.mode("append").parquet(inp)

    expected = []

    def fresh_compile(batch_df, batch_id):
        res = real(batch_df, images_schema_dsl(), keys=["image_id", "part"],
                   ignore_unexpected=True)
        expected.extend(
            (f"batch-{batch_id}/part-{r['part']}", r["n_rows"],
             r["n_violations"], r["n_bad_rows"], r["verdict"])
            for r in res.verdicts(["part"]).collect())

    q = streaming_mod.validate_stream(
        spark, inp, images_schema_dsl(), IMAGES_SCHEMA,
        manifest_path=str(tmp_path / "manifest"),
        checkpoint_path=str(tmp_path / "ckpt"),
        keys=("image_id",),
        extra_process=fresh_compile,
    )
    q.awaitTermination(120)
    recs = Manifest(str(tmp_path / "manifest")).records()
    got = sorted((r["partition"], r["n_rows"], r["n_violations"],
                  r["n_bad_rows"], r["verdict"]) for r in recs)
    assert {p.split("/")[0] for p, *_ in got} == {"batch-0", "batch-1"}
    assert sum(r[1] for r in got) == 400
    assert got == sorted(expected)
    assert len(calls) == 1
