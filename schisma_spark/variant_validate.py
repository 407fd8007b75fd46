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

from schisma_spark.compiler import (
    CheckRes,
    Opts,
    _const,
    empty_varr,
    fold,
    guarded_composite,
    is_problem,
    ok_result,
    part,
    pick,
    pick_struct,
    regex_key_best,
    validate_spec,
    validity,
    viol,
    vph,
)
from schisma_spark import typeatoms as ta
from schisma_spark.dsl import (
    ArrayAlt,
    AtomAlt,
    Node,
    ObjectAlt,
    Schema,
    fingerprint,
)
from schisma_spark.functions.portable import bind
from schisma_spark.result import (
    INVALID,
    MISSING_KEY,
    NO_MATCH,
    UNEXPECTED_KEY,
    VALID,
)
from schisma_spark.session import cached_column
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
        ok, extra = validate_spec(
            node.validate(_extract(kv, atom) if atom else kv))
        return validity(ok, {"where": where,
                             "value": _stringify_variant(kv), **extra},
                        count=False)

    results = _alt_results(node, kv, where, opts)
    if not results:
        return _const(empty_varr(), VALID, 1)
    return pick(results)


def _alt_results(node: Node, kv: Column, where: Column,
                 opts: Opts) -> list[CheckRes]:
    return [
        _check_variant_alt(a, i if len(node.alts) > 1 else None, kv, where,
                           opts)
        for i, a in enumerate(node.alts)
    ]


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
        return ok_result(ok, NO_MATCH,
                         _no_match_fields(kv, where, expected, idx),
                         count=False)
    if isinstance(alt, ArrayAlt):
        return _check_variant_array(alt, idx, kv, where, opts)
    if isinstance(alt, ObjectAlt):
        return _check_variant_object(alt, idx, kv, where, opts)
    raise TypeError(f"bad alternative {alt!r}")


def _child_struct(r: CheckRes) -> Column:
    return vph(r.viols, is_problem(r.code), r.h.cast("int"))


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
    entry (``pick_struct``) evaluates each alternative exactly once; the
    chosen struct's ``h`` IS ``array_max`` (``best_index`` takes the
    first maximum), so the values are identical to the CheckRes
    composition."""
    if node.validate is not None:
        return _child_struct(check_variant_node(node, kv, where, opts))
    results = _alt_results(node, kv, where, opts)
    if not results:
        return part(empty_varr(), False, 1)
    return pick_struct([_child_struct(r) for r in results])


def _check_variant_array(alt: ArrayAlt, idx, kv: Column, where: Column,
                         opts: Opts) -> CheckRes:
    arr = F.try_variant_get(kv, "$", "array<variant>")
    m = len(alt.elems)

    def body(a: Column) -> Column:
        if m == 0:
            return part(empty_varr(), False, 2)

        def elem_res(x: Column, i: Column) -> Column:
            w = F.concat_ws(".", where, i.cast("string"))
            # multi-schema elements: one bound array of (v, p, h)
            # structs, each element schema evaluated once (r7 — the
            # separate v/p/h picks re-evaluated every schema per field)
            return pick_struct([_node_struct(s, x, w, opts)
                                for s in alt.elems])

        return bind(F.transform(a, elem_res), lambda es: vph(*fold(es)))

    agg = bind(arr, body)
    return guarded_composite(
        arr.isNull(),
        viol(NO_MATCH, **_no_match_fields(kv, where, "array", idx)), agg)


def _no_match_fields(kv: Column, where: Column, expected: str,
                     idx) -> dict:
    return dict(where=where, expected=expected,
                received=js_typeof_variant(kv),
                value=_stringify_variant(kv), type_index=idx)


def _check_variant_object(alt: ObjectAlt, idx, kv: Column, where: Column,
                          opts: Opts) -> CheckRes:
    contribs: list[Column] = []
    for k, child in alt.fields.items():
        w = F.concat_ws(".", where, F.lit(k))
        # absent key (ckv NULL) = JS undefined -> MISSING_KEY iff required
        # (schisma.mjs:306-310); JSON null arrives as VOID, handled by the
        # Null atom (schisma.mjs:599-600)
        if child.required and not opts.ignore_required:
            missing = part(F.array(viol(MISSING_KEY, where=w)), True, -1)
        else:
            missing = part(empty_varr(), False, 0)

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
            skip = part(empty_varr(), False, 0)
            best = regex_key_best(
                k, alt.regex,
                lambda alts: pick([check_variant_node(s, val, w, opts)
                                   for s in alts]),
                skip)
            matched = functools_reduce_or(
                [k.rlike(p) for p, _ in alt.regex])
            return F.when(
                F.array_contains(fixed, k) | ~matched, skip
            ).otherwise(best)

        # bound once, as in compiler._check_map: the fold reads the
        # entries three times, and unbound each read re-ran the whole
        # per-entry regex dispatch per row
        contribs.append(bind(F.transform(F.map_entries(mv), _rx_entry),
                             lambda es: vph(*fold(es))))
    if not opts.ignore_unexpected:
        def _unexpected_contrib(u: Column) -> Column:
            # let-bound: three references below, one keys-enumeration pass
            return vph(
                F.transform(
                    u,
                    lambda k: viol(UNEXPECTED_KEY,
                                   where=F.concat_ws(".", where, k)),
                ),
                F.size(u) > 0,
                (-F.size(u)).cast("int"),
            )

        contribs.append(bind(unk, _unexpected_contrib))

    agg = bind(F.array(*contribs), lambda cs: vph(*fold(cs))) if contribs \
        else part(empty_varr(), False, 0)
    is_obj = js_typeof_variant(kv) == "object"
    return guarded_composite(
        ~is_obj, viol(NO_MATCH, **_no_match_fields(kv, where, "object", idx)),
        agg)


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
    alt = sch.root.alts[0]
    if not isinstance(alt, ObjectAlt):
        raise TypeError("variant schema root must be an object")
    viols = cached_column(
        ("validate_variant", fingerprint(sch.root), opts, json_col),
        lambda: _variant_checks(F.col(json_col), alt, opts))
    return ValidationResult(df=df, keys=list(keys or []), viols_col=viols)


def _variant_checks(col: Column, alt: ObjectAlt, opts: Opts) -> Column:
    """array<violation> of one JSON string column."""
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

    return bind(F.try_parse_json(col), _root)
