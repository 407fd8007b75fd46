"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark import Field, schema
from schisma_spark.manifest import Manifest
from schisma_spark.runner import RunConfig, ValidationRun
from schisma_spark.image.fixtures import images_schema_dsl, images_table


def test_conform_map_null_valued_required_key(spark):
    # element_at NULL is ambiguous (absent vs null value); inserting the
    # default used to map_concat a duplicate key -> DUPLICATED_MAP_KEY
    df = spark.createDataFrame(
        [Row(m={"k": None, "x_1": "5"}), Row(m={"x_1": "6"})],
        T.StructType(
            [T.StructField("m", T.MapType(T.StringType(), T.StringType()))]
        ),
    )
    sch = schema({"m": {"k": Field(type=str, default="dflt"),
                        "$/^x_": [str]}})
    rows = sch.conform(df).collect()
    assert rows[0]["m"]["k"] == "dflt" and rows[0]["m"]["x_1"] == "5"
    assert rows[1]["m"]["k"] == "dflt"


def test_conform_key_column_in_schema_not_duplicated(spark):
    df = spark.createDataFrame([Row(event_id=1, v="3")])
    sch = schema({"event_id": int, "v": float})
    out = sch.conform(df, keys=["event_id"])
    assert out.columns.count("event_id") == 1
    assert out.select("event_id").collect()[0][0] == 1  # no ambiguity


def test_resume_with_null_partition(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(part=None, v=1.0), Row(part=1, v=2.0), Row(part=2, v=None)],
        T.StructType([T.StructField("part", T.IntegerType()),
                      T.StructField("v", T.DoubleType())]),
    )
    run = ValidationRun(schema({"v": float}),
                        RunConfig(part_col="part", keys=(), unique_on=()))
    mpath = str(tmp_path / "m")
    # a batch of 2 then the rest: the NULL partition goes through the
    # resume planner's explicit isNull branch, whichever batch holds it
    first = run.run_resumable(df, mpath, batch_partitions=2)
    rest = run.run_resumable(df, mpath)
    recs = first.manifest_records + rest.manifest_records
    assert sorted(r["partition"] for r in recs) == ["1", "2", "None"]
    assert sum(r["n_rows"] for r in recs) == 3
    # third run: nothing remains (NULL partition included)
    assert run.run_resumable(df, mpath).manifest_records == []


def test_sinks_written_before_manifest_commit(spark, tmp_path):
    imgs = images_table(spark, 200, seed=42)
    run = ValidationRun(images_schema_dsl(), RunConfig())
    order = []

    def sinks(viols, verd):
        order.append("sinks")
        assert verd.count() > 0  # batch verdicts, no second scan needed

    mpath = str(tmp_path / "m")
    res = run.run_resumable(imgs, mpath, sinks=sinks)
    order.append("returned")
    assert order == ["sinks", "returned"]
    assert len(res.manifest_records) == 16
    assert res.batch is not None and res.batch.count() == 200


def test_sink_failure_leaves_manifest_unmarked(spark, tmp_path):
    imgs = images_table(spark, 100, seed=42)
    run = ValidationRun(images_schema_dsl(), RunConfig())
    mpath = str(tmp_path / "m")

    def boom(viols, verd):
        raise RuntimeError("sink unavailable")

    try:
        run.run_resumable(imgs, mpath, sinks=boom)
    except RuntimeError:
        pass
    assert Manifest(mpath).done_partitions() == set()  # batch will redo


def test_uniqueness_no_unconditional_broadcast(spark):
    # round-2 VERDICT #3 / ADVICE: the dup-key set is unbounded; library
    # default must not force a broadcast build (CLAUDE.md broadcast rule).
    from schisma_spark.checks import uniqueness_violations

    df = spark.range(100).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("v"))
    auto = uniqueness_violations(df, ["k"])
    opt = auto._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in opt, \
        "default strategy must not carry an unconditional broadcast hint"
    # the explicit knob still works
    forced = uniqueness_violations(df, ["k"], strategy="broadcast")
    opt2 = forced._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in opt2
    # results identical either way
    assert sorted(map(tuple, auto.collect())) == \
        sorted(map(tuple, forced.collect()))


def test_validate_column_filter_non_errors_plumbed(spark):
    # ADVICE low: filter_non_errors=False used to be silently ignored
    from schisma_spark.validate import validate_column

    df = spark.createDataFrame([Row(id=1, v=1.0), Row(id=2, v=None)])
    sch = schema(float)
    kept = validate_column(df, "v", sch, keys=["id"],
                           filter_non_errors=False).violations
    rows = {r["id"]: r["code"] for r in kept.collect()}
    assert rows[1] in ("exact match", "valid")  # non-error row now emitted
    assert rows[2] == "no match"  # bare null vs Number (not an object field)
    dropped = validate_column(df, "v", sch, keys=["id"]).violations
    assert dropped.count() == 1


def test_repetition_oracle_null_text_parity(spark, tmp_path):
    """r6 self-review: the repetition_stats DuckDB twin returned NULL
    fractions for NULL text while the engine returns 0.0 — latent only
    because the sf documents tables carry no NULL text. Replay both
    sides over a mini corpus WITH planted NULL/blank text."""
    import duckdb

    import __spark_entry__ as entry

    rows = [
        (1, "alpha beta gamma", "en", "s", 16),
        (5, "line one\nline two", "en", "s", 17),   # %5: doubled linewise
        (9, "repeat me twice", "en", "s", 15),      # %9: doubled wordwise
        (2, None, "en", "s", 0),                    # planted NULL text
        (3, "", "en", "s", 0),                      # planted blank text
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet"))

    got = {r["doc_id"]: (r["dup_word_frac"], r["dup_line_frac"])
           for r in entry.queries()["repetition_stats"](
               spark, str(tmp_path)).collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')")
    exp = {r[0]: (r[1], r[2])
           for r in con.execute(
               entry.oracle_sql()["repetition_stats"]).fetchall()}

    assert set(got) == set(exp)
    for k in got:
        assert got[k][0] == pytest.approx(exp[k][0], abs=1e-9), k
        assert got[k][1] == pytest.approx(exp[k][1], abs=1e-9), k
    assert got[2] == (0.0, 0.0) and got[3] == (0.0, 0.0)
