"""Runner sinks (E2), recursion helper, set-op drift."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark import Field, schema
from schisma_spark.checks.drift import new_categories
from schisma_spark.dsl import recursive
from schisma_spark.image.fixtures import dim_fmt, images_schema_dsl, images_table
from schisma_spark.runner import RunConfig, ValidationRun
from schisma_spark.sources import write_table


def files_per_part(path):
    """Parquet files in each ``part=`` directory under ``path``."""
    return {d: sum(f.endswith(".parquet") for f in os.listdir(
                os.path.join(path, d)))
            for d in os.listdir(path) if d.startswith("part=")}


def test_write_outputs(spark, tmp_path):
    imgs = images_table(spark, 400, seed=42)
    run = ValidationRun(images_schema_dsl(), RunConfig())
    vp, gp = str(tmp_path / "viols"), str(tmp_path / "verdicts")
    run.write_outputs(imgs, vp, gp,
                      dims={("fmt",): (dim_fmt(spark), ("fmt",))})
    viols = spark.read.parquet(vp)
    verd = spark.read.parquet(gp)
    assert verd.count() == 16
    assert viols.count() > 0
    # violations partitioned by part -> a part filter prunes files
    plan = viols.where(F.col("part") == 3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters: [isnotnull(part" in plan
    # the union carries row-level AND referential codes
    codes = {r["code"] for r in viols.select("code").distinct().collect()}
    assert "no match" in codes  # webp fmt referential violations
    # violation rows are clustered by part before the partitioned writer
    per_part = files_per_part(vp)
    assert len(per_part) > 1 and max(per_part.values()) == 1


def test_run_resumable_sinks_one_file_per_partition(spark, tmp_path):
    imgs = images_table(spark, 400, seed=42)
    run = ValidationRun(images_schema_dsl(), RunConfig())
    vp, gp = str(tmp_path / "viols"), str(tmp_path / "verdicts")

    def sinks(viols, verd):
        write_table(viols, vp, mode="append", partition_by=["part"])
        write_table(verd, gp, mode="append")

    res = run.run_resumable(imgs, str(tmp_path / "m"),
                            dims={("fmt",): (dim_fmt(spark), ("fmt",))},
                            sinks=sinks)
    assert len(res.manifest_records) == 16
    per_part = files_per_part(vp)
    assert len(per_part) > 1 and max(per_part.values()) == 1
    assert spark.read.parquet(gp).count() == 16


@pytest.mark.parametrize("part_kind", ["int_with_null", "string"])
def test_run_resumable_verdicts_are_a_jvm_local_frame(spark, tmp_path,
                                                      part_kind):
    """The returned verdict frame is planned as a LocalTableScan (no
    pickled RDD, so no Python worker per action) and holds exactly the
    verdicts of the batch."""
    imgs = images_table(spark, 300, seed=42)
    if part_kind == "int_with_null":
        df, cfg = imgs.withColumn(
            "part", F.when(F.col("part") == 3, F.lit(None))
            .otherwise(F.col("part"))), RunConfig()
    else:
        df = imgs.withColumn("shard",
                             F.concat(F.lit("s"), F.col("part").cast("string")))
        cfg = RunConfig(part_col="shard")
    run = ValidationRun(images_schema_dsl(), cfg)
    res = run.run_resumable(df, str(tmp_path / "m"))
    plan = res.verdicts._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    expected = run.row_pass(res.batch).verdicts([cfg.part_col])
    assert res.verdicts.schema == expected.schema
    assert sorted(res.verdicts.collect(), key=str) == \
        sorted(expected.collect(), key=str)
    parts = {r[cfg.part_col] for r in res.verdicts.collect()}
    assert len(parts) == 16
    if part_kind == "int_with_null":
        assert None in parts


def test_recursive_schema(spark):
    # test/recursiveSchema.mjs:5-35 — recursion, depth-limited at compile
    tree = recursive(
        lambda child: {
            "name": str,
            "child": Field(typeof=[child], required=False),
        },
        depth=3,
    )
    st = T.StructType
    f = T.StructField
    lvl2 = st([f("name", T.StringType()), f("child", T.StringType())])
    lvl1 = st([f("name", T.StringType()), f("child", lvl2)])
    df = spark.createDataFrame(
        [
            Row(name="root", child=Row(name="c1", child=Row(name=None, child="x"))),
        ],
        st([f("name", T.StringType()), f("child", lvl1)]),
    )
    got = tree.validate(df).violations.collect()
    assert [(g["code"], g["where"]) for g in got] == [
        ("missing key", "child.child.name")
    ]


def test_new_categories(spark):
    cur = spark.createDataFrame([Row(v="a"), Row(v="b"), Row(v="c")])
    base = spark.createDataFrame([Row(v="a"), Row(v="b")])
    got = [r["v"] for r in new_categories(cur, base, "v").collect()]
    assert got == ["c"]
