"""Source seam formats: parquet round trip, jsonl, csv; iceberg raises
cleanly when the runtime is absent (it is, in this sandbox)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from schisma_spark.sources import read_table, write_table


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([Row(a=1, b="x"), Row(a=2, b="y")])
    p = str(tmp_path / "t")
    write_table(df, p, mode="overwrite")
    back = read_table(spark, p)
    assert sorted((r["a"], r["b"]) for r in back.collect()) == [(1, "x"), (2, "y")]


def test_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([Row(a=1, b="x")])
    p = str(tmp_path / "j")
    write_table(df, p, fmt="jsonl", mode="overwrite")
    back = read_table(spark, p, fmt="jsonl", schema=df.schema)
    assert back.collect()[0].asDict() == {"a": 1, "b": "x"}


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([Row(a=1, b="x")])
    p = str(tmp_path / "c")
    write_table(df, p, fmt="csv", mode="overwrite")
    back = read_table(spark, p, fmt="csv", schema=df.schema)
    assert back.collect()[0].asDict() == {"a": 1, "b": "x"}


def test_iceberg_absent_raises(spark):
    with pytest.raises(RuntimeError, match="iceberg runtime"):
        read_table(spark, "db.tbl", fmt="iceberg")


def test_iceberg_read_dispatch(spark, monkeypatch):
    """Dispatch-level contract for the iceberg branch (jar absent in this
    sandbox): format string, load target, and the no-silent-fallback rule."""
    from unittest.mock import MagicMock

    import schisma_spark.sources as S

    monkeypatch.setattr(S, "_has_iceberg", lambda _s: True)
    fake_reader = MagicMock()
    fake_spark = MagicMock()
    fake_spark.read.format.return_value = fake_reader

    S.read_table(fake_spark, "lake.db.images", fmt="iceberg")
    fake_spark.read.format.assert_called_once_with("iceberg")
    fake_reader.load.assert_called_once_with("lake.db.images")

    # fmt='auto' with a catalog name also routes through iceberg
    fake_spark.reset_mock()
    fake_spark.read.format.return_value = fake_reader
    S.read_table(fake_spark, "lake.db.images", fmt="auto")
    fake_spark.read.format.assert_called_once_with("iceberg")


def test_iceberg_write_dispatch(spark):
    from unittest.mock import MagicMock

    from schisma_spark.sources import write_table

    df = MagicMock()
    w = MagicMock()
    df.writeTo.return_value = w
    write_table(df, "lake.db.images", fmt="iceberg", mode="append")
    df.writeTo.assert_called_once_with("lake.db.images")
    w.append.assert_called_once()
    w.createOrReplace.assert_not_called()

    df.reset_mock(); w.reset_mock(); df.writeTo.return_value = w
    write_table(df, "lake.db.images", fmt="iceberg", mode="overwrite")
    w.createOrReplace.assert_called_once()
    w.append.assert_not_called()


def test_bucketed_write_colocated_join(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge-join with NO shuffle exchange on either side — the
    co-located layout the engine recommends for repeated big joins."""
    from pyspark.sql import functions as F

    a = spark.range(1000).select(F.col("id").alias("k"),
                                 (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"),
                                 (F.col("id") * 3).alias("vb"))
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")
    write_table(a, "bk_a", mode="overwrite", bucket_by=(8, ["k"]))
    write_table(b, "bk_b", mode="overwrite", bucket_by=(8, ["k"]))
    try:
        # hint the sort-merge path (AQE would broadcast this tiny fixture;
        # at real scale SMJ is the shape bucketing exists for)
        j = spark.table("bk_a").hint("merge").join(
            spark.table("bk_b").hint("merge"), "k")
        assert j.count() == 1000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, \
            "bucketed merge join must be shuffle-free"
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")

    # path refs reject bucketing loudly (metadata needs a catalog)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="catalog table"):
        write_table(a, str(tmp_path / "x"), bucket_by=(8, ["k"]))


def test_fan_out_guard(spark, tmp_path):
    """fan_out repartitions only when the scan is coarser than the session
    parallelism — and is a structural no-op otherwise."""
    from schisma_spark.sources import fan_out

    p = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.mode("overwrite").parquet(p)
    one = spark.read.parquet(p)
    n = spark.sparkContext.defaultParallelism
    assert one.rdd.getNumPartitions() < n
    assert fan_out(one).rdd.getNumPartitions() == n

    wide = spark.range(1000).repartition(n + 4)
    assert fan_out(wide) is wide  # untouched, no shuffle added


def test_package_zip_rebuilds_on_newer_source():
    """r5: the --py-files zip must REBUILD when any package source is
    newer than the cached zip — an existence-only cache shipped a stale
    zip missing modules added after it was first built (caught live: a
    spark-submit curation run failed importing functions.curate)."""
    import os
    import time
    import zipfile

    import schisma_spark
    from schisma_spark.session import package_zip

    out = package_zip()
    with zipfile.ZipFile(out) as z:
        names = z.namelist()
    assert "schisma_spark/functions/curate.py" in names

    # age the zip behind one source file -> next call rebuilds
    src = os.path.join(os.path.dirname(schisma_spark.__file__),
                       "functions", "curate.py")
    old = os.path.getmtime(src) - 10
    os.utime(out, (old, old))
    assert os.path.getmtime(src) > os.path.getmtime(out)
    before = os.path.getmtime(out)
    package_zip()
    assert os.path.getmtime(out) > before

    # fresh zip with no newer sources is NOT rebuilt
    t = os.path.getmtime(out)
    time.sleep(0.01)
    package_zip()
    assert os.path.getmtime(out) == t


def test_package_zip_is_per_checkout(tmp_path):
    """Two checkouts on one host each ship their OWN package: a copy whose
    files are all older than this checkout's zip used to get that zip
    back (one shared name, rebuilt only on a newer source)."""
    import os
    import shutil
    import subprocess
    import sys
    import tempfile
    import zipfile

    import schisma_spark
    from schisma_spark.session import package_zip

    mine = package_zip()
    pkg = os.path.dirname(os.path.abspath(schisma_spark.__file__))
    copy = tmp_path / "checkout" / "schisma_spark"
    shutil.copytree(pkg, copy, ignore=shutil.ignore_patterns("__pycache__"))
    (copy / "_copy_marker.py").write_text("MARKER = 1\n")
    old = os.path.getmtime(mine) - 3600
    for root, _dirs, files in os.walk(copy):
        for f in files:
            os.utime(os.path.join(root, f), (old, old))

    env = dict(os.environ, TMPDIR=tempfile.gettempdir())
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]); "
         "from schisma_spark.session import package_zip; "
         "print(package_zip())", str(copy.parent)],
        env=env, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    try:
        assert out != mine
        with zipfile.ZipFile(out) as z:
            assert "schisma_spark/_copy_marker.py" in z.namelist()
            assert z.read("schisma_spark/session.py") == \
                (copy / "session.py").read_bytes()
        with zipfile.ZipFile(mine) as z:
            assert "schisma_spark/_copy_marker.py" not in z.namelist()
    finally:
        os.remove(out)
