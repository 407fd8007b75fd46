"""Variant validation: the reference's DYNAMIC typing semantics, exact.

The relational engine (compiler.py) folds types into column dtypes, which
collapses JS ``undefined`` vs ``null`` and forbids heterogeneous values.
Spark 4's VariantType removes both limits for semi-structured payloads:

- ``try_variant_get(v, '$.k', 'variant')`` is NULL only when the key is
  ABSENT (JS undefined -> MISSING_KEY), while a JSON null arrives as a
  variant of type VOID (JS null -> matches the Null schema type) — the
  exact distinction of schisma.mjs:306-310 vs :599-600
- ``schema_of_variant`` is a per-row runtime ``typeof`` (schisma.mjs:337),
  so union alternatives resolve per VALUE, and arrays may hold mixed types
  (test/automated.mjs:40-77) — things a static column type cannot express

Everything is built-in expressions (parse_json / try_variant_get /
schema_of_variant / transform); no Python runs per row.

Scope: atoms (number/bigint/string/boolean/null), unions, fixed-key
objects nested to any depth (unexpected-key detection included), arrays of
union elements, ``$validate`` via typed extraction, and (r2) regex keys
with full VALUE validation — dynamic keys dispatch per row through a
``try_variant_get(v, '$', 'map<string,variant>')`` view of the object
(its keys and variant values; a JSON-null value stays a present key),
matching the reference's runtime regex loop (schisma.mjs:256-295) with the
same best-of-matching-patterns scoring as compiler._check_map.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark.compiler import (
    CheckRes,
    Opts,
    _const,
    empty_varr,
    is_problem,
    varr,
    viol,
)
from schisma_spark import typeatoms as ta
from schisma_spark.dsl import ArrayAlt, AtomAlt, Node, ObjectAlt, Schema
from schisma_spark.functions.portable import bind
from schisma_spark.result import (
    EXACT_MATCH,
    INVALID,
    MISSING_KEY,
    NO_MATCH,
    PARTIAL_MATCH,
    UNEXPECTED_KEY,
    VALID,
)
from schisma_spark.validate import ValidationResult

_NUMERIC_PREFIXES = ("BIGINT", "DOUBLE", "FLOAT", "DECIMAL", "INT", "SMALLINT",
                     "TINYINT")


def js_typeof_variant(kv: Column) -> Column:
    """Per-row JS ``typeof`` (+'null'/'array') from a variant value."""
    st = F.schema_of_variant(kv)
    cond = F.when(st == "VOID", "null")
    for p in _NUMERIC_PREFIXES:
        cond = cond.when(st.startswith(p), "number")
    return (
        cond.when(st == "STRING", "string")
        .when(st == "BOOLEAN", "boolean")
        .when(st.startswith("OBJECT"), "object")
        .when(st.startswith("ARRAY"), "array")
        .otherwise(F.lower(st))
    )


_ATOM_TYPEOF = {
    id(ta.NUMBER): "number",
    id(ta.BIGINT): "number",  # JSON has one number kind (typeof 'number')
    id(ta.STRING): "string",
    id(ta.BOOLEAN): "boolean",
    id(ta.NULL): "null",
}


def _extract(kv: Column, atom) -> Column:
    if atom is ta.NUMBER or atom is ta.BIGINT:
        return F.try_variant_get(kv, "$", "double")
    if atom is ta.BOOLEAN:
        return F.try_variant_get(kv, "$", "boolean")
    return F.try_variant_get(kv, "$", "string")


def _stringify_variant(kv: Column) -> Column:
    return F.to_json(kv)


def check_variant_node(node: Node, kv: Column, where: Column,
                       opts: Opts) -> CheckRes:
    """``kv`` is a variant VALUE (non-null; absence handled by the parent,
    exactly like the reference's object loop at schisma.mjs:306-310)."""
    if node.validate is not None:
        # $validate short-circuits (schisma.mjs:141-172); the user fn gets
        # a typed extraction based on the node's first atom (or the raw
        # variant when no atom alternative exists)
        atom = next(
            (a.atom for a in node.alts if isinstance(a, AtomAlt)), None
        )
        res = node.validate(_extract(kv, atom) if atom else kv)
        extra: dict = {}
        if isinstance(res, tuple):
            res, second = res
            extra = dict(second) if isinstance(second, dict) else {"message": second}
        ok = F.coalesce(res, F.lit(True))
        fields = {"where": where, "value": _stringify_variant(kv), **extra}
        return CheckRes(
            varr(F.when(~ok, viol(INVALID, **fields))),
            F.when(ok, F.lit(VALID)).otherwise(F.lit(INVALID)),
            F.when(ok, F.lit(1)).otherwise(F.lit(-1)).cast("int"),
        )

    results = [
        _check_variant_alt(a, i if len(node.alts) > 1 else None, kv, where,
                           opts)
        for i, a in enumerate(node.alts)
    ]
    if not results:
        return _const(empty_varr(), VALID, 1)
    if len(results) == 1:
        return results[0]
    h_arr = F.array(*[r.h for r in results])
    best = F.array_position(h_arr, F.array_max(h_arr)).cast("int")
    return CheckRes(
        F.element_at(F.array(*[r.viols for r in results]), best),
        F.element_at(F.array(*[r.code for r in results]), best),
        F.array_max(h_arr),
    )


def _check_variant_alt(alt, idx, kv: Column, where: Column,
                       opts: Opts) -> CheckRes:
    if isinstance(alt, Node):
        return check_variant_node(alt, kv, where, opts)
    if isinstance(alt, AtomAlt):
        expected = alt.atom.name
        want = _ATOM_TYPEOF.get(id(alt.atom))
        if want is None:
            # binary/timestamp etc. have no JSON carrier: value-level check
            ok = _extract(kv, alt.atom).isNotNull()
        else:
            ok = js_typeof_variant(kv) == want
            if alt.atom is ta.BIGINT:
                d = F.try_variant_get(kv, "$", "double")
                ok = ok & d.isNotNull() & (d == F.floor(d))
        nm = viol(NO_MATCH, where=where, expected=expected,
                  received=js_typeof_variant(kv),
                  value=_stringify_variant(kv), type_index=idx)
        return CheckRes(
            varr(F.when(~ok, nm)),
            F.when(ok, F.lit(EXACT_MATCH)).otherwise(F.lit(NO_MATCH)),
            F.when(ok, F.lit(2)).otherwise(F.lit(-1)).cast("int"),
        )
    if isinstance(alt, ArrayAlt):
        return _check_variant_array(alt, idx, kv, where, opts)
    if isinstance(alt, ObjectAlt):
        return _check_variant_object(alt, idx, kv, where, opts)
    raise TypeError(f"bad alternative {alt!r}")


def _child_struct(r: CheckRes) -> Column:
    return F.struct(r.viols.alias("v"), is_problem(r.code).alias("p"),
                    r.h.cast("int").alias("h"))


def _node_struct(node: Node, kv: Column, where: Column,
                 opts: Opts) -> Column:
    """``struct(v, p, h)`` for one node over one value, with union
    alternatives evaluated ONCE (r7).

    Consuming a union node's ``CheckRes`` as three separate columns
    re-evaluates every alternative per consumed field — the best-match
    pick (``element_at(array(...), best)``) inlines the whole
    alternative list into ``viols``, ``code`` AND ``h``, and interpreted
    stages do no CSE, so a two-atom union field cost ~8
    ``schema_of_variant`` evaluations per row. Building one let-bound
    array of per-alternative (v, p, h) structs and picking the best
    entry evaluates each alternative exactly once; the chosen struct's
    ``h`` IS ``array_max`` (array_position takes the first maximum), so
    the values are identical to the CheckRes composition."""
    if node.validate is not None:
        return _child_struct(check_variant_node(node, kv, where, opts))
    results = [
        _check_variant_alt(a, i if len(node.alts) > 1 else None, kv, where,
                           opts)
        for i, a in enumerate(node.alts)
    ]
    if not results:
        return F.struct(empty_varr().alias("v"), F.lit(False).alias("p"),
                        F.lit(1).cast("int").alias("h"))
    if len(results) == 1:
        return _child_struct(results[0])
    per = [_child_struct(r) for r in results]

    def pick(arr: Column) -> Column:
        hs = F.transform(arr, lambda x: x["h"])
        best = F.array_position(hs, F.array_max(hs)).cast("int")
        return F.element_at(arr, best)

    return bind(F.array(*per), pick)


def _check_variant_array(alt: ArrayAlt, idx, kv: Column, where: Column,
                         opts: Opts) -> CheckRes:
    arr = F.try_variant_get(kv, "$", "array<variant>")
    m = len(alt.elems)

    def body(a: Column) -> Column:
        if m == 0:
            return F.struct(
                empty_varr().alias("v"), F.lit(False).alias("p"),
                F.lit(2).cast("int").alias("h"),
            )

        def elem_res(x: Column, i: Column) -> Column:
            w = F.concat_ws(".", where, i.cast("string"))
            if len(alt.elems) == 1:
                return _node_struct(alt.elems[0], x, w, opts)
            # multi-schema elements: one bound array of (v, p, h)
            # structs, each element schema evaluated once (r7 — the
            # separate v/p/h picks re-evaluated every schema per field)
            per = [_node_struct(s, x, w, opts) for s in alt.elems]

            def pick(arr: Column) -> Column:
                hs = F.transform(arr, lambda e: e["h"])
                b = F.array_position(hs, F.array_max(hs)).cast("int")
                return F.element_at(arr, b)

            return bind(F.array(*per), pick)

        return bind(
            F.transform(a, elem_res),
            lambda es: F.struct(
                F.flatten(F.transform(es, lambda e: e["v"])).alias("v"),
                F.exists(es, lambda e: e["p"]).alias("p"),
                F.aggregate(es, F.lit(0).cast("int"),
                            lambda acc, e: acc + e["h"]).alias("h"),
            ),
        )

    agg = bind(arr, body)
    nm = viol(NO_MATCH, where=where, expected="array",
              received=js_typeof_variant(kv),
              value=_stringify_variant(kv), type_index=idx)
    return CheckRes(
        F.when(arr.isNull(), F.array(nm)).otherwise(agg["v"]),
        F.when(arr.isNull(), F.lit(NO_MATCH))
        .when(agg["p"], F.lit(PARTIAL_MATCH)).otherwise(F.lit(EXACT_MATCH)),
        F.when(arr.isNull(), F.lit(-1))
        .otherwise(agg["h"] + F.when(agg["p"], 0).otherwise(2)).cast("int"),
    )


def _check_variant_object(alt: ObjectAlt, idx, kv: Column, where: Column,
                          opts: Opts) -> CheckRes:
    contribs: list[Column] = []
    for k, child in alt.fields.items():
        w = F.concat_ws(".", where, F.lit(k))
        # absent key (ckv NULL) = JS undefined -> MISSING_KEY iff required
        # (schisma.mjs:306-310); JSON null arrives as VOID, handled by the
        # Null atom (schisma.mjs:599-600)
        if child.required and not opts.ignore_required:
            missing = F.struct(
                F.array(viol(MISSING_KEY, where=w)).alias("v"),
                F.lit(True).alias("p"), F.lit(-1).cast("int").alias("h"),
            )
        else:
            missing = F.struct(
                empty_varr().alias("v"), F.lit(False).alias("p"),
                F.lit(0).cast("int").alias("h"),
            )

        def _mk_field_contrib(child, w, missing):
            # one-arg lambda for bind() (default-arg captures would change
            # the HOF arity): ckv is a lambda VARIABLE, so the variant get
            # (and the whole parse chain above it) evaluates ONCE per row,
            # however many times the child check references it. Without
            # the binding, interpreted stages (Generate/Filter carry no
            # subexpression elimination) re-parsed the payload for every
            # reference — 8x on the violations explode (measured).
            def _field_contrib(ckv: Column) -> Column:
                return F.when(ckv.isNull(), missing).otherwise(
                    _node_struct(child, ckv, w, opts))

            return _field_contrib

        contribs.append(
            bind(F.try_variant_get(kv, f"$.{k}", "variant"),
                 _mk_field_contrib(child, w, missing))
        )
    # unexpected keys: enumerate runtime keys via the map<string,variant>
    # view (r7 — measured 4x cheaper than json_object_keys(to_json(kv)):
    # no JSON serialize + re-parse per row; NULL for non-objects and
    # null-valued keys enumerate identically)
    keys_arr = F.map_keys(
        F.try_variant_get(kv, "$", "map<string,variant>"))
    fixed = (
        F.array(*[F.lit(k) for k in alt.fields])
        if alt.fields else F.array().cast("array<string>")
    )
    unk = F.filter(
        keys_arr,
        lambda k: ~F.array_contains(fixed, k)
        & ~functools_reduce_or([k.rlike(p) for p, _ in alt.regex]),
    )
    # regex-matched dynamic keys: VALUE validation per row (r2). The key
    # set is known only per row, so entries are enumerated through a
    # map<string,variant> view; each matching pattern is tried and the
    # best result kept (non-problems first, then max h — the same scoring
    # as compiler._check_map / schisma.mjs:256-295).
    if alt.regex:
        NOMATCH = -(10 ** 9)
        # map view straight off the variant (r7): ~3.5x cheaper than the
        # from_json(to_json(kv)) round trip; the _rx_entry coalesce
        # already normalizes a null-valued entry to a VOID variant under
        # either representation
        mv = F.try_variant_get(kv, "$", "map<string,variant>")

        def _rx_entry(e: Column) -> Column:
            k = e["key"]
            # a JSON null entry must stay a VOID variant, not SQL NULL
            val = F.coalesce(e["value"], F.parse_json(F.lit("null")))
            w = F.concat_ws(".", where, k)
            per_structs = []
            for pat, alts_ in alt.regex:
                rs = [check_variant_node(s, val, w, opts) for s in alts_]
                if len(rs) == 1:
                    v_, c_, h_ = rs[0].viols, rs[0].code, rs[0].h
                else:
                    h_arr = F.array(*[r.h for r in rs])
                    b = F.array_position(h_arr, F.array_max(h_arr)).cast("int")
                    v_ = F.element_at(F.array(*[r.viols for r in rs]), b)
                    c_ = F.element_at(F.array(*[r.code for r in rs]), b)
                    h_ = F.array_max(h_arr)
                p_ = is_problem(c_)
                score = (h_.cast("long")
                         + F.when(p_, F.lit(-100000)).otherwise(F.lit(0)))
                per_structs.append(F.struct(
                    F.when(k.rlike(pat), score)
                    .otherwise(F.lit(NOMATCH).cast("long")).alias("s"),
                    v_.alias("v"), p_.alias("p"),
                    h_.cast("int").alias("h"),
                ))
            skip = F.struct(empty_varr().alias("v"), F.lit(False).alias("p"),
                            F.lit(0).cast("int").alias("h"))

            def pick(arr: Column) -> Column:
                scores = F.transform(arr, lambda x: x["s"])
                mx = F.array_max(scores)
                best = F.array_position(scores, mx).cast("int")
                ch = F.element_at(arr, best)
                return F.when(
                    mx > NOMATCH,
                    F.struct(ch["v"].alias("v"), ch["p"].alias("p"),
                             ch["h"].alias("h")),
                ).otherwise(skip)

            matched = functools_reduce_or(
                [k.rlike(p) for p, _ in alt.regex])
            return F.when(
                F.array_contains(fixed, k) | ~matched, skip
            ).otherwise(bind(F.array(*per_structs), pick))

        rx_entries = F.transform(F.map_entries(mv), _rx_entry)
        contribs.append(F.struct(
            F.flatten(F.transform(rx_entries, lambda e: e["v"])).alias("v"),
            F.exists(rx_entries, lambda e: e["p"]).alias("p"),
            F.aggregate(rx_entries, F.lit(0).cast("int"),
                        lambda acc, e: acc + e["h"]).alias("h"),
        ))
    if not opts.ignore_unexpected:
        def _unexpected_contrib(u: Column) -> Column:
            # let-bound: three references below, one keys-enumeration pass
            return F.struct(
                F.transform(
                    u,
                    lambda k: viol(UNEXPECTED_KEY,
                                   where=F.concat_ws(".", where, k)),
                ).alias("v"),
                (F.size(u) > 0).alias("p"),
                (-F.size(u)).cast("int").alias("h"),
            )

        contribs.append(bind(unk, _unexpected_contrib))

    def combine(cs: Column) -> Column:
        return F.struct(
            F.flatten(F.transform(cs, lambda c: c["v"])).alias("v"),
            F.exists(cs, lambda c: c["p"]).alias("p"),
            F.aggregate(cs, F.lit(0).cast("int"),
                        lambda acc, c: acc + c["h"]).alias("h"),
        )

    agg = bind(F.array(*contribs), combine) if contribs else F.struct(
        empty_varr().alias("v"), F.lit(False).alias("p"),
        F.lit(0).cast("int").alias("h"),
    )
    is_obj = js_typeof_variant(kv) == "object"
    nm = viol(NO_MATCH, where=where, expected="object",
              received=js_typeof_variant(kv),
              value=_stringify_variant(kv), type_index=idx)
    return CheckRes(
        F.when(~is_obj, F.array(nm)).otherwise(agg["v"]),
        F.when(~is_obj, F.lit(NO_MATCH))
        .when(agg["p"], F.lit(PARTIAL_MATCH)).otherwise(F.lit(EXACT_MATCH)),
        F.when(~is_obj, F.lit(-1))
        .otherwise(agg["h"] + F.when(agg["p"], 0).otherwise(2)).cast("int"),
    )


def functools_reduce_or(conds: list[Column]) -> Column:
    out = F.lit(False)
    for c in conds:
        out = out | c
    return out


def validate_variant(
    df: DataFrame,
    json_col: str,
    sch: Schema,
    keys: list[str] | None = None,
    ignore_unexpected: bool = False,
    ignore_required: bool = False,
) -> ValidationResult:
    """Validate a JSON-string column with full dynamic-typing semantics
    (undefined != null, heterogeneous arrays, per-row union typeof)."""
    opts = Opts(ignore_unexpected=ignore_unexpected,
                ignore_required=ignore_required)
    keys = list(keys or [])
    col = F.col(json_col)
    alt = sch.root.alts[0]
    if not isinstance(alt, ObjectAlt):
        raise TypeError("variant schema root must be an object")
    malformed = F.array(
        viol(INVALID, where=None, expected="json object",
             received=F.substring(col, 1, 64), message="malformed json")
    )

    def _root(vv: Column) -> Column:
        # vv is the let-bound parse: ONE try_parse_json per row no matter
        # how many variant gets the object check hangs off it
        res = _check_variant_object(alt, None, vv,
                                    F.lit(None).cast("string"), opts)
        return (
            F.when(col.isNull(), empty_varr())
            .when(vv.isNull(), malformed)
            .otherwise(res.viols)
        )

    viols = bind(F.try_parse_json(col), _root)
    return ValidationResult(df=df, keys=keys, viols_col=viols)
