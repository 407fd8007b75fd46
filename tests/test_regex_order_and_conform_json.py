"""Overlapping regex-matcher semantics (schisma.mjs:256-295: try every
matching pattern, prefer non-problem results) + conform_json round trip."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import Row
from pyspark.sql import types as T

from schisma_spark import Field, schema
from schisma_spark.json_validate import conform_json, validate_json


def test_overlapping_regex_patterns_prefer_match(spark):
    # key 'x_num' matches BOTH patterns; only the later one's type fits.
    # The reference keeps the best (non-problem) result across matching
    # patterns — declaration order must not mask the success.
    df = spark.createDataFrame(
        [Row(id=1, m={"x_num": 3.0})],
        T.StructType(
            [T.StructField("id", T.LongType()),
             T.StructField("m", T.MapType(T.StringType(), T.DoubleType()))]
        ),
    )
    sch = schema({"m": {"$/^x_": [str], "$/num$": [float]}})
    assert sch.validate(df, keys=["id"]).violations.count() == 0

    # when NO matching pattern fits, the violation survives
    sch2 = schema({"m": {"$/^x_": [str], "$/num$": [bool]}})
    got = sch2.validate(df, keys=["id"]).violations.collect()
    assert len(got) == 1 and got[0]["code"] == "no match"


def _x_num_frame(spark, path):
    """One row holding the key ``x_num = 3.0`` through each check path:
    a root column, a struct field, a map column and a JSON document."""
    if path == "variant":
        return spark.createDataFrame([Row(id=1, p='{"x_num": 3.0}')])
    if path == "root":
        dt = T.DoubleType()
    elif path == "struct":
        dt = T.StructType([T.StructField("x_num", T.DoubleType())])
    else:
        dt = T.MapType(T.StringType(), T.DoubleType())
    val = 3.0 if path == "root" else (
        Row(x_num=3.0) if path == "struct" else {"x_num": 3.0})
    name = "x_num" if path == "root" else "c"
    return spark.createDataFrame(
        [(1, val)],
        T.StructType([T.StructField("id", T.LongType()),
                      T.StructField(name, dt)]),
    )


@pytest.mark.parametrize("path", ["root", "struct", "map", "variant"])
@pytest.mark.parametrize("patterns, expected", [
    ([("$/^x_", str), ("$/num$", float)], None),
    ([("$/^x_", str), ("$/num$", bool)], "string"),
    ([("$/num$", bool), ("$/^x_", str)], "boolean"),
])
def test_overlapping_regex_patterns_agree_across_paths(spark, path,
                                                       patterns, expected):
    """A key matched by two patterns keeps the best result across them
    (schisma.mjs:256-295): a non-problem result wins whatever the order;
    when every pattern fails, the first declared one reports. The static
    key set (root, struct), the runtime map and the variant view score it
    the same way."""
    from schisma_spark.variant_validate import validate_variant

    obj = {pat: [t] for pat, t in patterns}
    df = _x_num_frame(spark, path)
    if path == "variant":
        res = validate_variant(df, "p", schema(obj), keys=["id"])
    elif path == "root":
        res = schema(obj).validate(df, keys=["id"])
    else:
        res = schema({"c": obj}).validate(df, keys=["id"])
    got = res.violations.collect()
    if expected is None:
        assert got == []
    else:
        assert [(g["code"], g["expected"]) for g in got] == [
            ("no match", expected)]


@pytest.mark.parametrize("definition", [
    {"$/^x": []},
    {"id": int, "nested": {"k": str, "$/^x": []}},
    {"m": Field(typeof=[{"$/^y": [float], "$/^x": []}])},
])
def test_regex_key_without_types_fails_at_schema_time(definition):
    # no alternative to pick from: both the relational and the variant
    # union pick failed Spark analysis (NULL_TYPE) at the first action
    with pytest.raises(ValueError, match=r"'\$/\^x'"):
        schema(definition)


def test_fixed_keys_win_over_regex(spark):
    # fixed keys take priority over matchers (README.md:89-106)
    df = spark.createDataFrame(
        [Row(id=1, m={"x_fixed": 1.0, "x_other": 2.0})],
        T.StructType(
            [T.StructField("id", T.LongType()),
             T.StructField("m", T.MapType(T.StringType(), T.DoubleType()))]
        ),
    )
    # fixed key x_fixed demands a custom check that fails; regex would pass
    sch = schema({
        "m": {
            "x_fixed": Field(type=float, validate=lambda c: c > 100),
            "$/^x_": [float],
        }
    })
    got = sch.validate(df, keys=["id"]).violations.collect()
    assert [(g["code"], g["where"]) for g in got] == [("invalid", "m.x_fixed")]


def test_conform_json_roundtrip(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, p='{"k": "5", "name": "a", "junk": 1}'),
            Row(id=2, p='{"name": "b"}'),
            Row(id=3, p="{broken"),
            Row(id=4, p=None),
        ]
    )
    sch = schema({"k": Field(type=float, default=-1.0), "name": str})
    out = {r["id"]: r["p"] for r in conform_json(df, "p", sch).collect()}
    assert json.loads(out[1]) == {"k": 5.0, "name": "a"}   # junk dropped, k
    assert json.loads(out[2]) == {"k": -1.0, "name": "b"}  # coerced TYPED;
    # default inserted typed too (ADVICE r1: repaired rows no longer flip
    # scalar types to strings)
    assert json.loads(out[3]) == {"k": -1.0, "name": ""}     # malformed -> create()
    assert out[4] is None

    # conformed payloads validate cleanly
    fixed = conform_json(df.where("id < 3"), "p", sch)
    res = validate_json(fixed, "p", sch, keys=["id"])
    assert res.violations.count() == 0


def test_conform_json_composite_children_preserved(spark):
    """Nested object/array children round-trip typed and untouched; absent
    required composites get their create() default (r2 single-parse
    regression guard: presence of a composite can't be judged from the
    string extraction, which is NULL for objects)."""
    df = spark.createDataFrame([
        Row(id=1, p='{"k": 1, "o": {"n": 2}, "a": [1, "x", null]}'),
        Row(id=2, p='{"k": 1}'),
    ])
    sch = schema({"k": Field(type=float),
                  "o": {"n": Field(type=int, required=False)},
                  "a": Field(typeof=[[]], required=False)})
    out = {r["id"]: json.loads(r["p"])
           for r in conform_json(df, "p", sch).collect()}
    assert out[1] == {"k": 1.0, "o": {"n": 2}, "a": [1, "x", None]}
    assert out[2] == {"k": 1.0, "o": {}}  # required o inserted, optional a omitted


def test_conform_json_recursive_nested_repair(spark):
    """r2 VERDICT #4 — nested JSON objects are REPAIRED, not embedded
    untouched: the reference's conform recursion (schisma.mjs:425-455),
    goldens ported from test/complexObject.mjs:36-92 (complexSchema =
    {a: Number, b: {bA: String, bB: [Boolean]}, c: [{cA: Number}]})."""
    sch = schema({
        "a": float,
        "b": {"bA": str, "bB": [bool]},
        "c": [{"cA": float}],
    })
    df = spark.createDataFrame([
        # missing nested key -> inserted with default
        Row(id=1, p='{"a":1,"b":{"bB":[true]},"c":[]}'),
        # unexpected nested key -> removed; array-element leaf coerced
        Row(id=2, p='{"a":0,"b":{"bA":"x","bB":[false],"zz":9},'
                    '"c":[{"cA":"2"}]}'),
        # wrong-typed nested leaves -> coerced (String(5), Boolean(1))
        Row(id=3, p='{"a":0,"b":{"bA":5,"bB":[1]},"c":[]}'),
        # entire nested object missing -> create() default
        Row(id=4, p='{"a":0,"c":[]}'),
        # scalar where object expected -> NO_MATCH create() coercion
        Row(id=5, p='{"a":0,"b":7,"c":[]}'),
    ])
    out = {r["id"]: json.loads(r["p"])
           for r in conform_json(df, "p", sch).collect()}
    assert out[1] == {"a": 1.0, "b": {"bA": "", "bB": [True]}, "c": []}
    assert out[2] == {"a": 0.0, "b": {"bA": "x", "bB": [False]},
                      "c": [{"cA": 2.0}]}
    assert out[3] == {"a": 0.0, "b": {"bA": "5", "bB": [True]}, "c": []}
    assert out[4] == {"a": 0.0, "b": {"bA": "", "bB": []}, "c": []}
    assert out[5] == {"a": 0.0, "b": {"bA": "", "bB": []}, "c": []}
