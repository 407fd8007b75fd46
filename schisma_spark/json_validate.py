"""JSON-string validation: the reference's per-object semantics over truly
semi-structured data.

A DataFrame column's key set is static, so most of the reference's runtime
checks fold into compile time (compiler.py). A JSON **string** column is
the one place rows genuinely carry different key sets — here the full
runtime semantics apply per row:

- malformed JSON -> INVALID
- unexpected keys (schisma.mjs:300-305) via parsed map keys, with regex
  matchers (schisma.mjs:256-295) honored at run time
- missing required keys (schisma.mjs:306-310)
- type checks on values via try_cast conformance (values arrive as JSON
  scalars rendered to strings; a JSON string cannot carry host types)

Implementation: ``from_json`` to ``map<string,string>`` + the engine's
MapType object check with children forced to ``castable`` semantics. One
projection, JVM-side; no Python.
"""

from __future__ import annotations

import copy

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark.compiler import Opts, _check_map, empty_varr, viol
from schisma_spark.dsl import AtomAlt, Node, ObjectAlt, Schema, fingerprint
from schisma_spark.result import INVALID
from schisma_spark.session import cached_column
from schisma_spark.validate import ValidationResult


def _force_castable(node: Node) -> Node:
    n = copy.copy(node)
    n.castable = True
    n.alts = [
        _force_castable(a) if isinstance(a, Node) else a for a in node.alts
    ]
    return n


def json_checks(col: Column, sch: Schema, opts: Opts) -> Column:
    """array<violation> for one JSON string column."""
    alt = sch.root.alts[0]
    if not isinstance(alt, ObjectAlt):
        raise TypeError("json schema root must be an object")
    alt = ObjectAlt(
        fields={k: _force_castable(v) for k, v in alt.fields.items()},
        regex=[(p, [_force_castable(n) for n in alts_]) for p, alts_ in alt.regex],
    )
    malformed = F.array(
        viol(INVALID, where=None, expected="json object",
             received=F.substring(col, 1, 64), message="malformed json")
    )

    def _body(m: Column) -> Column:
        # m is let-bound: ONE from_json per row — _check_map references
        # the map once per fixed key plus the entries pass, and
        # interpreted stages don't eliminate common subexpressions
        res = _check_map(alt, None, m,
                         T.MapType(T.StringType(), T.StringType()),
                         F.lit(None).cast("string"), opts)
        return (
            F.when(col.isNull(), empty_varr())  # null column = absent
                                                # payload; required-ness is
                                                # the caller's row concern
            .when(m.isNull(), malformed)
            .otherwise(res.viols)
        )

    from schisma_spark.functions.portable import bind

    return bind(
        F.from_json(col, T.MapType(T.StringType(), T.StringType())), _body
    )


def validate_json(
    df: DataFrame,
    json_col: str,
    sch: Schema,
    keys: list[str] | None = None,
    ignore_unexpected: bool = False,
    ignore_required: bool = False,
) -> ValidationResult:
    opts = Opts(ignore_unexpected=ignore_unexpected,
                ignore_required=ignore_required)
    viols = cached_column(
        ("validate_json", fingerprint(sch.root), opts, json_col),
        lambda: json_checks(F.col(json_col), sch, opts))
    return ValidationResult(df=df, keys=list(keys or []), viols_col=viols)


def _json_scalar(c: Column) -> Column:
    """JSON text of one typed value, with correct quoting/escaping, via
    ``to_json(array(v))`` minus the brackets."""
    s = F.to_json(F.array(c))
    return s.substr(F.lit(2), F.length(s) - F.lit(2))


def conform_json(
    df: DataFrame,
    json_col: str,
    sch: Schema,
    remove_unexpected: bool = True,
    insert_missing: bool = True,
) -> DataFrame:
    """Repair a JSON string column in place, RECURSIVELY (r3): parse ->
    drop unexpected keys at every nesting level (regex-matched keys kept,
    value types preserved via VariantType), insert required-key defaults,
    coerce value types, conform array elements -> re-serialize TYPED:
    numbers/booleans come back unquoted JSON values, exactly like the
    malformed->``create()`` path (and like the reference, whose conform
    yields real JS values — schisma.mjs:579-607). Nested objects are
    repaired by the same rules through the schema's static structure
    (``_conformFromErrors`` recursion, schisma.mjs:425-455; goldens
    test/complexObject.mjs:36-92); a present value whose shape matches no
    alternative coerces to the child's ``create()`` default (NO_MATCH ->
    ``create(conf, data)``, schisma.mjs:426-431). Output key order is
    deterministic at every level: fixed keys in schema order, then kept
    dynamic keys in input order. Regex-matched dynamic keys are KEPT with
    values type-preserved — the reference CRASHES conforming a
    regex-matched value that mismatches its pattern schema (TypeError in
    ``_conformFromErrors``, ``type[err.where]`` undefined for regex keys;
    live-asserted in tests/test_reference_live_parity.py), so this is the
    engine's own defined repair. The output column keeps its name AND
    position; malformed JSON is replaced by the schema's create() JSON.
    One projection, JVM-side — recursion depth is the SCHEMA's (static),
    never the data's."""
    alt = sch.root.alts[0]
    if not isinstance(alt, ObjectAlt):
        raise TypeError("json schema root must be an object")
    out = cached_column(
        ("conform_json", fingerprint(sch.root), json_col, remove_unexpected,
         insert_missing),
        lambda: _conform_json_column(json_col, alt, remove_unexpected,
                                     insert_missing))
    return df.select(
        *[out if c == json_col else F.col(c) for c in df.columns]
    )


def _conform_json_column(json_col: str, alt: ObjectAlt,
                         remove_unexpected: bool,
                         insert_missing: bool) -> Column:
    """The repaired ``json_col`` of :func:`conform_json`, aliased to its
    name."""
    import json as _json

    from schisma_spark import typeatoms as ta
    from schisma_spark.create import create_value
    from schisma_spark.dsl import ArrayAlt, AtomAlt, _UNSET
    from schisma_spark.functions.portable import bind

    def _dumps(v) -> str:
        return _json.dumps(v, separators=(",", ":"))

    def _null_coerced(node: Node):
        """JS ``create(conf, data=null)`` for a PRESENT JSON null
        (ADVICE r3): the reference conforms null via constructor coercion
        (schisma.mjs:536-610 with data=null) — ``Number(null)=0``,
        ``String(null)='null'`` (typeof null is 'object', so it goes
        through JSON.stringify, schisma.mjs:591-596), ``Boolean(null)=
        false``; plain ``$default`` is SKIPPED (data !== undefined,
        schisma.mjs:542-544) while a ``$default`` thunk runs with null.
        A Null alternative matches null exactly, so the value survives
        unrepaired."""
        if any(isinstance(a, AtomAlt) and a.atom is ta.NULL
               for a in node.alts):
            return None
        return create_value(node, None)

    def _atom_value(kv: Column, atoms: list, dflt) -> Column:
        """Typed JSON text via the coercion chain (each atom alternative in
        order, none-accepts -> default), with the reference's JS coercion
        semantics per runtime typeof (schisma.mjs:579-607, r3 fidelity):
        ``Number(true)=1``, ``Number('')=0``, ``Boolean('abc')=true`` /
        ``Boolean('')=false`` / ``Boolean(0)=false`` / objects-and-arrays
        truthy, ``String(5.0)='5'`` (integral doubles drop the '.0'),
        ``String(obj)=JSON.stringify``. ``cur`` (a variant get) and ``to``
        (a schema_of_variant when-chain) are let-bound — every textual
        reference re-evaluates otherwise (no CSE in interpreted stages)."""
        from schisma_spark.variant_validate import js_typeof_variant

        def _body(cur: Column, to: Column) -> Column:
            cands: list[Column] = []
            for a in atoms:
                if a is ta.STRING:
                    d = cur.try_cast("double")
                    num_txt = F.when(
                        (d == F.floor(d)) & (F.abs(d) < 1e15),
                        d.cast("long").cast("string"),
                    ).otherwise(cur)
                    cands.append(
                        F.when(to == "number", _json_scalar(num_txt))
                        .otherwise(_json_scalar(cur)))
                elif a is ta.BOOLEAN:
                    cv = (
                        F.when(to == "string", cur != "")
                        .when(to == "number", cur.try_cast("double") != 0.0)
                        .when(to == "boolean", cur.try_cast("boolean"))
                        .when(to.isin("object", "array"), F.lit(True))
                    )
                    cands.append(F.when(cv.isNotNull(), _json_scalar(cv)))
                else:
                    cv = (
                        F.when(to == "boolean",
                               cur.try_cast("boolean").cast(a.spark_type))
                        .when((to == "string") & (F.trim(cur) == ""),
                              F.lit(0).cast(a.spark_type))
                        .otherwise(cur.try_cast(a.spark_type))
                    )
                    cands.append(F.when(cv.isNotNull(), _json_scalar(cv)))
            fallback = (F.lit(_dumps(dflt)) if dflt is not None
                        else F.lit(None).cast("string"))
            return F.when(cur.isNotNull(), F.coalesce(*cands, fallback))

        return bind(
            F.try_variant_get(kv, "$", "string"),
            lambda cur: bind(js_typeof_variant(kv),
                             lambda to: _body(cur, to)),
        )

    def _render_value(kv: Column, node: Node) -> Column:
        """Conformed JSON text of a PRESENT variant value under ``node``;
        NULL means no alternative could render it (caller coerces to the
        node's create() default). Alternatives resolve by the value's
        runtime shape — object/array branches first (shape-gated), the
        atom chain last — mirroring the reference's per-typeof union
        dispatch (schisma.mjs:337,456-487)."""
        branches: list[Column] = []
        atoms: list = []
        for a in node.alts:
            if isinstance(a, Node):
                branches.append(_render_value(kv, a))
            elif isinstance(a, ObjectAlt):
                # nested key sets are enumerated through the
                # map<string,variant> view; taken straight
                # off the variant (r7 — no to_json/from_json round trip;
                # probe-verified: JSON null stays a present VOID variant,
                # absent keys stay SQL NULL). bind() so the map is
                # computed once per node, not once per field reference
                nested = F.try_variant_get(kv, "$", "map<string,variant>")

                def _obj_branch(oa):
                    # one-arg lambda for bind(): a default-arg capture
                    # would give the lambda arity 2 and transform() would
                    # pass the element INDEX as the second argument
                    return lambda m: F.when(
                        m.isNotNull(),
                        F.concat(F.lit("{"), _obj_body(m, oa), F.lit("}")),
                    )

                branches.append(bind(nested, _obj_branch(a)))
            elif isinstance(a, ArrayAlt):
                if a.elems:
                    elem = a.elems[0]
                    elem_dflt = create_value(elem, _UNSET)
                    elem_fb = (F.lit(_dumps(elem_dflt))
                               if elem_dflt is not None
                               else F.lit("null"))
                    null_fb = F.lit(_dumps(_null_coerced(elem)))

                    def _elem_fn(el, fb, nf):
                        # element conform: a JSON null element (a present
                        # VOID-typed variant) coerces per JS create(conf,
                        # null); otherwise render under the element
                        # schema, unrenderable -> element default
                        # (schisma.mjs:488-514). One-arg lambda (see
                        # _obj_branch note).
                        return lambda e: F.when(
                            e.isNull()
                            | (F.schema_of_variant(e) == "VOID"),
                            nf,
                        ).otherwise(F.coalesce(_render_value(e, el), fb))

                    _elem = _elem_fn(elem, elem_fb, null_fb)
                else:
                    def _elem(e: Column):
                        return F.to_json(e)  # [] schema: elements untyped

                def _arr_branch(elem_fn):
                    # arr is let-bound: the variant get would otherwise run
                    # twice (isNotNull gate + transform). null_replacement:
                    # an untyped NULL element renders as "null" —
                    # array_join SKIPS SQL-NULL elements otherwise
                    return lambda a_: F.when(
                        a_.isNotNull(),
                        F.concat(F.lit("["),
                                 F.array_join(F.transform(a_, elem_fn),
                                              ",", "null"),
                                 F.lit("]")),
                    )

                branches.append(
                    bind(F.try_variant_get(kv, "$", "array<variant>"),
                         _arr_branch(_elem)))
            elif isinstance(a, AtomAlt) and a.atom is not ta.NULL:
                atoms.append(a.atom)
        if atoms:
            branches.append(_atom_value(kv, atoms,
                                        create_value(node, _UNSET)))
        if not branches:
            return F.to_json(kv)  # unconstrained node: passthrough
        return F.coalesce(*branches)

    def _obj_body(mv: Column, oalt: ObjectAlt) -> Column:
        """'k:v,k2:v2' body text for one object level (no braces).

        Absent key vs present JSON null are distinct (r4, ADVICE): in
        ``map<string,variant>`` a JSON null parses to a present VOID-typed
        variant (verified; same as the variant_validate.py contract), so
        ``element_at`` NULL means ABSENT -> insert the create() default iff
        required (schisma.mjs:445-452), while schema VOID means a present
        null -> JS coercion of null via create(conf, null)
        (see ``_null_coerced``)."""
        frags: list[Column] = []
        for k, child in oalt.fields.items():
            key_lit = _json.dumps(k) + ":"
            dflt = create_value(child, _UNSET)
            dflt_frag = (
                F.lit(key_lit + _dumps(dflt))
                if (child.required and insert_missing)
                else F.lit(None).cast("string")
            )
            # present-but-unrenderable (shape matches no alternative):
            # coerce to the child's create() (schisma.mjs:426-431)
            coerce_frag = (F.lit(key_lit + _dumps(dflt))
                           if dflt is not None
                           else F.lit(None).cast("string"))
            null_frag = F.lit(key_lit + _dumps(_null_coerced(child)))

            def _present_frag(ch, klit, df_, nf, cf):
                # kv and the rendered chain are both let-bound: kv is an
                # O(|map|) element_at referenced by every alternative, and
                # rendered is the whole coercion chain (its isNotNull gate
                # would re-evaluate it per row otherwise)
                def inner(kv: Column) -> Column:
                    return (
                        F.when(kv.isNull(), df_)  # absent key
                        .when(F.schema_of_variant(kv) == "VOID", nf)
                        .otherwise(
                            bind(_render_value(kv, ch),
                                 lambda r: F.coalesce(
                                     F.when(r.isNotNull(),
                                            F.concat(F.lit(klit), r)),
                                     cf))))
                return inner

            frags.append(
                bind(F.element_at(mv, F.lit(k)),
                     _present_frag(child, key_lit, dflt_frag, null_frag,
                                   coerce_frag))
            )

        # dynamic keys: keep regex-matched (or everything when
        # remove_unexpected=False), values type-preserved through variant
        fixed_keys = list(oalt.fields)
        pats = [p for p, _ in oalt.regex]

        def _dyn_keep(k2: Column, _v: Column) -> Column:
            cond = ~k2.isin(*fixed_keys) if fixed_keys else F.lit(True)
            if remove_unexpected:
                pat_ok = F.lit(False)
                for p in pats:
                    pat_ok = pat_ok | k2.rlike(p)
                cond = cond & pat_ok
            return cond

        # dyn is let-bound: to_json(map_filter(..)) is referenced by the
        # length gate and twice by the substr otherwise
        frags.append(bind(
            F.to_json(F.map_filter(mv, _dyn_keep)),
            lambda d_: F.when(F.length(d_) > 2,
                              d_.substr(F.lit(2),
                                        F.length(d_) - F.lit(2)))))
        return F.array_join(
            F.filter(F.array(*frags), lambda x: x.isNotNull()), ","
        )

    col = F.col(json_col)
    default_json = _dumps(
        {k: create_value(v, _UNSET) for k, v in alt.fields.items()
         if v.required},
    )
    # ONE parse of the column (the malformed isNull gate lives INSIDE the
    # bind — outside it, from_json ran twice per row, r4/ADVICE): the
    # variant map carries type-preserved values; nested levels re-view
    # their subtree as map<string,variant>
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .otherwise(bind(
            F.from_json(col, "map<string,variant>"),
            lambda m: F.when(m.isNull(), F.lit(default_json))  # malformed
            .otherwise(F.concat(F.lit("{"), _obj_body(m, alt),
                                F.lit("}")))))
        .alias(json_col)
    )
