"""Variant-path validation: the reference's dynamic-typing semantics EXACT
— undefined != null, heterogeneous arrays, per-row typeof unions. The
README 5-error example runs here verbatim (no relational adaptation)."""

from __future__ import annotations

import json

from pyspark.sql import Row

from schisma_spark import Field, Null, schema
from schisma_spark.variant_validate import validate_variant


def _v(res):
    return sorted(
        (r["code"], r["where"]) for r in res.violations.collect()
    )


def test_undefined_vs_null_distinction(spark):
    # schisma.mjs:306-310 (missing) vs :599-600 (null value): a JSON null
    # matches the Null type; an ABSENT key is missing — the one semantic
    # the relational mapping collapses, restored via VariantType
    df = spark.createDataFrame(
        [
            Row(id=1, p='{"z": null}'),   # null value: matches Null type
            Row(id=2, p="{}"),            # absent: MISSING_KEY
            Row(id=3, p='{"z": 5}'),      # number: NO_MATCH vs Null
        ]
    )
    sch = schema({"z": Null})
    got = {
        r["id"]: (r["code"], r["where"])
        for r in validate_variant(df, "p", sch, keys=["id"]).violations.collect()
    }
    assert got == {2: ("missing key", "z"), 3: ("no match", "z")}


def test_heterogeneous_array_elements(spark):
    # test/automated.mjs:40-77 — one array holding number/string/boolean/
    # null, validated against a 4-way union; impossible on a static column
    df = spark.createDataFrame(
        [
            Row(id=1, p='{"a": [1, "x", true, null]}'),
            Row(id=2, p='{"a": [1, {"bad": 1}]}'),
        ]
    )
    sch = schema({"a": [Field(typeof=[float, str, bool, Null])]})
    got = _v(validate_variant(df, "p", sch, keys=["id"]))
    assert got == [("no match", "a.1")]


def test_per_row_union_typeof(spark):
    # union resolved by runtime typeof per value (schisma.mjs:337,357)
    df = spark.createDataFrame(
        [
            Row(id=1, p='{"v": 3}'),
            Row(id=2, p='{"v": "s"}'),
            Row(id=3, p='{"v": true}'),
        ]
    )
    sch = schema({"v": Field(typeof=[str, float])})
    got = validate_variant(df, "p", sch, keys=["id"]).violations.collect()
    assert [(g["id"], g["code"], g["received"]) for g in got] == [
        (3, "no match", "boolean")
    ]
    assert got[0]["type_index"] == 0  # first max wins (schisma.mjs:361)


def test_bigint_integrality(spark):
    df = spark.createDataFrame(
        [Row(id=1, p='{"n": 5}'), Row(id=2, p='{"n": 5.5}')]
    )
    sch = schema({"n": int})
    got = _v(validate_variant(df, "p", sch, keys=["id"]))
    assert got == [("no match", "n")]


def test_readme_five_errors_verbatim(spark):
    # /root/reference/README.md:191-274 — EXACT port, heterogeneous
    # hairless values included (true / false / 'maybe' in one array)
    person = {
        "name": "OXXO",
        "height": 180,
        "owns": {
            "cats": [
                {"hairless": True, "age": 400},
                {"hairless": False, "age": 10},
                {"hairless": "maybe", "age": 20},
            ]
        },
    }
    df = spark.createDataFrame([Row(p=json.dumps(person))])
    sch = schema(
        {
            "name": str,
            "age": float,
            "owns": {
                "cats": [
                    {
                        "hairless": bool,
                        "age": Field(
                            type=float,
                            validate=lambda c: (c <= 38, {"expected": "<=38"}),
                        ),
                    }
                ],
                "apples": float,
            },
        }
    )
    got = validate_variant(df, "p", sch).violations.orderBy(
        "code", "where"
    ).collect()
    assert [(g["code"], g["where"]) for g in got] == [
        ("invalid", "owns.cats.0.age"),
        ("missing key", "age"),
        ("missing key", "owns.apples"),
        ("no match", "owns.cats.2.hairless"),
        ("unexpected key", "height"),
    ]
    nm = [g for g in got if g["code"] == "no match"][0]
    assert nm["received"] == "string" and nm["value"] == '"maybe"'
    inv = [g for g in got if g["code"] == "invalid"][0]
    assert inv["expected"] == "<=38"

    # option-filtered variant (README.md:258-274)
    got2 = validate_variant(df, "p", sch, ignore_unexpected=True,
                            ignore_required=True).violations.orderBy(
        "code").collect()
    assert [(g["code"], g["where"]) for g in got2] == [
        ("invalid", "owns.cats.0.age"),
        ("no match", "owns.cats.2.hairless"),
    ]


def test_variant_regex_key_value_checks(spark):
    """r2: regex-matched dynamic keys get full VALUE validation over the
    variant path (was presence-only). Pattern $/^x_ expects Number."""
    df = spark.createDataFrame([
        Row(id=1, p='{"k": 1, "x_a": 5, "x_b": "oops"}'),
        Row(id=2, p='{"k": 1, "x_ok": 2.5}'),
        Row(id=3, p='{"k": 1, "zz": 1}'),
    ])
    sch = schema({"k": Field(type=float), "$/^x_": [float]})
    rows = validate_variant(df, "p", sch, keys=["id"]).violations.collect()
    got = sorted((r["id"], r["code"], r["where"]) for r in rows)
    assert got == [
        (1, "no match", "x_b"),        # regex value type mismatch
        (3, "unexpected key", "zz"),   # unmatched dynamic key
    ]
    bad = [r for r in rows if r["id"] == 1][0]
    assert bad["received"] == "string" and bad["expected"] == "number"


def test_variant_regex_multiple_patterns_best_wins(spark):
    # two patterns match 'xy_1': one expects Number (fails on a string),
    # one expects String (passes) -> non-problem result wins, no violation
    df = spark.createDataFrame([Row(id=1, p='{"xy_1": "s"}')])
    sch = schema({"$/^x": [float], "$/^xy": [str]})
    assert validate_variant(df, "p", sch, keys=["id"]).violations.count() == 0


def test_json_null_values_and_non_objects_through_map_view(spark):
    """The ``map<string,variant>`` view enumerates runtime keys for the
    unexpected-key and regex-key checks. A key holding JSON null is
    PRESENT (a variant null, not a SQL NULL the view could drop): it is
    an unexpected key, or a regex key whose value is validated (and kept
    by conform_json). A non-object document is one root NO_MATCH with its
    typeof, and conform_json replaces it with the create() default."""
    from schisma_spark.json_validate import conform_json

    docs = ['{"k": null}', '{"a": 1, "x_a": null, "zz": null}',
            '[1]', '3', '"s"', 'null', 'true']
    df = spark.createDataFrame([Row(id=i, p=d) for i, d in enumerate(docs)])
    roots = [(i, "no match", None, t) for i, t in
             enumerate(["array", "number", "string", "null", "boolean"], 2)]

    def got(sch, **kw):
        rows = validate_variant(df, "p", sch, keys=["id"], **kw)
        return sorted((r["id"], r["code"], r["where"], r["received"])
                      for r in rows.violations.collect())

    fixed = schema({"a": float})
    assert got(fixed) == sorted([
        (0, "missing key", "a", None), (0, "unexpected key", "k", None),
        (1, "unexpected key", "x_a", None), (1, "unexpected key", "zz", None),
        *roots])
    assert got(fixed, ignore_unexpected=True) == sorted([
        (0, "missing key", "a", None), *roots])

    regex = schema({"a": Field(type=float, default=0.0), "$/^x_": [str]})
    assert got(regex) == sorted([
        (0, "missing key", "a", None), (0, "unexpected key", "k", None),
        (1, "no match", "x_a", "null"), (1, "unexpected key", "zz", None),
        *roots])
    nullable = schema({"a": Field(type=float, default=0.0),
                       "$/^x_": [str, Null]})
    assert got(nullable, ignore_unexpected=True) == sorted([
        (0, "missing key", "a", None), *roots])

    out = {r["id"]: json.loads(r["p"])
           for r in conform_json(df, "p", nullable).collect()}
    assert out == {0: {"a": 0.0}, 1: {"a": 1.0, "x_a": None},
                   **{i: {"a": 0.0} for i in range(2, 7)}}
