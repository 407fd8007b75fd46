"""Aggregate checks (SURVEY §2.B E4-E7, E11) over driver testdata sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark.checks import (
    column_stats,
    duplicate_keys,
    fixed_histogram,
    fk_violations,
    ks_from_histograms,
    top_k_violations,
    uniqueness_violations,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_column_stats(spark, orders):
    st = {r["column"]: r for r in column_stats(orders, ["o_totalprice", "o_orderstatus"]).collect()}
    n = orders.count()
    assert st["o_totalprice"]["n_rows"] == n
    assert st["o_totalprice"]["n_null"] == 0
    exact_min = orders.agg(F.min("o_totalprice")).collect()[0][0]
    assert float(st["o_totalprice"]["min_value"]) == exact_min
    assert st["o_orderstatus"]["null_frac"] == 0.0


def test_column_stats_conformance(spark):
    df = spark.createDataFrame([Row(v="1"), Row(v="2"), Row(v="oops"), Row(v=None)])
    st = column_stats(df, ["v"], conformance={"v": T.DoubleType()}).collect()[0]
    assert st["conform_frac"] == 0.75  # 2 castable + 1 null out of 4


def test_duplicate_keys_salted_exact(spark, lineitem):
    # must equal plain groupBy-count exactly (SURVEY §7(d)); the removed
    # salt_buckets keyword is rejected
    with pytest.raises(TypeError, match="salt_buckets"):
        duplicate_keys(lineitem, ["l_orderkey"], salt_buckets=16)
    dk = duplicate_keys(lineitem, ["l_orderkey", "l_linenumber"])
    got = {
        tuple(r[k] for k in ("l_orderkey", "l_linenumber")): r["cnt"]
        for r in dk.collect()
    }
    plain = {
        (r["l_orderkey"], r["l_linenumber"]): r["cnt"]
        for r in lineitem.groupBy("l_orderkey", "l_linenumber")
        .count()
        .where(F.col("count") >= 2)
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    assert got == plain

    # planted duplicates are found
    dup = lineitem.limit(5)
    with_dups = lineitem.unionAll(dup)
    found = duplicate_keys(with_dups, ["l_orderkey", "l_linenumber"])
    assert found.count() >= 5


def test_uniqueness_violation_rows(spark, orders):
    dup = orders.limit(3)
    df = orders.unionAll(dup)
    v = uniqueness_violations(df, ["o_orderkey"])
    rows = v.collect()
    assert len(rows) == 6  # both copies of each duplicated key
    assert all(r["code"] == "invalid" and r["expected"] == "unique" for r in rows)


def test_fk_violations_broadcast(spark, orders):
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    clean = fk_violations(orders, customer, ["o_custkey"], ["c_custkey"],
                          keys=["o_orderkey"])
    assert clean.count() == 0
    # remove some customers -> dangling FKs appear
    pruned = customer.where(F.col("c_custkey") > 10)
    dangling = fk_violations(orders, pruned, ["o_custkey"], ["c_custkey"],
                             keys=["o_orderkey"])
    expected = orders.where(F.col("o_custkey") <= 10).count()
    assert dangling.count() == expected
    got = dangling.collect()[0]
    assert got["code"] == "no match" and "fk into dim" in got["expected"]

    # plan check: the dim side must broadcast
    plan = dangling._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_histogram_and_ks(spark, lineitem):
    hist = fixed_histogram(lineitem, "l_quantity", 0.0, 50.0, 10)
    total = hist.agg(F.sum("cnt")).collect()[0][0]
    assert total == lineitem.where(F.col("l_quantity").isNotNull()).count()

    # identical histograms -> ks == 0
    ks = ks_from_histograms(hist, hist).collect()[0]["ks"]
    assert ks == pytest.approx(0.0)

    # shifted distribution -> ks > 0
    shifted = fixed_histogram(
        lineitem.withColumn("l_quantity", F.col("l_quantity") + 20.0),
        "l_quantity", 0.0, 50.0, 10,
    )
    ks2 = ks_from_histograms(shifted, hist).collect()[0]["ks"]
    assert ks2 > 0.3


def test_psi_from_histograms(spark, lineitem):
    from schisma_spark.checks import psi_from_histograms

    hist = fixed_histogram(lineitem, "l_quantity", 0.0, 50.0, 10)
    # identical histograms -> psi == 0 exactly (pa == pb per bin)
    psi0 = psi_from_histograms(hist, hist).collect()[0]["psi"]
    assert psi0 == pytest.approx(0.0)

    # a +20 shift is major drift on the conventional PSI scale (> 0.25)
    shifted = fixed_histogram(
        lineitem.withColumn("l_quantity", F.col("l_quantity") + 20.0),
        "l_quantity", 0.0, 50.0, 10,
    )
    psi1 = psi_from_histograms(shifted, hist).collect()[0]["psi"]
    assert psi1 > 0.25
    # symmetric in its two arguments (the formula is)
    psi2 = psi_from_histograms(hist, shifted).collect()[0]["psi"]
    assert psi1 == pytest.approx(psi2, rel=1e-9)


def test_psi_grouped_matches_numpy(spark):
    import math

    from schisma_spark.checks import psi_from_histograms

    rows = [
        # group g1: disjoint support exercises the smoothing path
        ("g1", 0, 10, 0), ("g1", 1, 0, 10), ("g1", 2, 5, 5),
        # group g2: identical -> psi 0
        ("g2", 0, 7, 7), ("g2", 1, 3, 3),
    ]
    cur = spark.createDataFrame(
        [(g, b, ca) for g, b, ca, _ in rows], "g string, bin int, cnt long")
    base = spark.createDataFrame(
        [(g, b, cb) for g, b, _, cb in rows], "g string, bin int, cnt long")
    got = {r["g"]: r["psi"]
           for r in psi_from_histograms(cur, base, group_by=["g"]).collect()}

    def psi_ref(pairs, smooth=0.5):
        sa = [a + smooth for a, _ in pairs]
        sb = [b + smooth for _, b in pairs]
        ta, tb = sum(sa), sum(sb)
        return sum((a / ta - b / tb) * math.log((a / ta) / (b / tb))
                   for a, b in zip(sa, sb))

    assert got["g1"] == pytest.approx(
        psi_ref([(10, 0), (0, 10), (5, 5)]), rel=1e-9)
    assert got["g2"] == pytest.approx(0.0, abs=1e-12)


def test_top_k(spark, orders):
    pruned = spark.read.parquet(f"{SF}/customer.parquet").where(F.col("c_custkey") > 100)
    v = fk_violations(orders, pruned, ["o_custkey"], ["c_custkey"], keys=["o_orderkey"])
    capped = top_k_violations(v, k=5, part_cols=["code"], order_by=["o_orderkey"])
    assert capped.count() == 5
