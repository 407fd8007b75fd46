"""Local stand-in for the driver's correctness gate: run each
__spark_entry__ query on Spark AND its oracle_sql on DuckDB at sf0.01,
compare row count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

# the checkout this script lives in, not whichever tree is installed
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entry

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.10g}"
    if isinstance(v, int):
        return str(v)
    if v is None:
        return "NULL"
    return str(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = set(sys.argv[1:])
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark.catalog.clearCache()
            sdf = fn(spark, SF)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS  {name}: rows-only check, {len(s_rows)} rows "
                  f"(schema {s_cols})")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols = rel.columns
            d_rows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL  {name}: column mismatch {s_cols} vs {d_cols}")
            failures.append(name)
            continue
        a, b = rowset(s_cols, s_rows), rowset(d_cols, d_rows)
        if len(a) != len(b):
            print(f"FAIL  {name}: row count {len(a)} vs {len(b)}")
            failures.append(name)
        elif a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(a)} rows")
    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
