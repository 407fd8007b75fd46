"""conform(): validate-and-repair as ONE projection.

The reference implements conform as validate + error-replay mutation
(/root/reference/src/schisma.mjs:407-524). That replay is an artifact of its
mutate-in-place design, not a semantic requirement (SURVEY.md §3.1 EP3): the
same result is a single ``select`` that re-emits every column through
coerce / default / rebuild logic, which Catalyst fuses into whole-stage
codegen — no second pass, no shuffle.

Semantics ported:
- type coercion via JS constructor rules (schisma.mjs:579-607):
  ``Number('abc') -> NaN -> default`` (:579-584), ``String(obj) ->
  JSON.stringify`` (:591-596), JS truthiness for Boolean (:597-598)
- unexpected keys removed, missing keys inserted with defaults
  (:439-452; NB the reference documents ``removeUnexpected`` /
  ``insertMissing`` options but never consults them in
  ``_conformFromErrors`` — we honor them as real options, defaulting to the
  reference's effective always-on behavior)
- grow/shrink/populate arrays (:488-514, conform maps them onto
  ignoreShort/LongArrays at :409-411)
- ``$typeof`` alternatives resolved per row via the same union heuristic as
  validate, so each variant conforms losslessly (test/conformance.mjs:36-75)
"""

from __future__ import annotations

import re as _re
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from schisma_spark import typeatoms as ta
from schisma_spark.compiler import Opts, best_index, check_alt
from schisma_spark.create import create_value
from schisma_spark.dsl import (
    _UNSET,
    ArrayAlt,
    AtomAlt,
    Node,
    ObjectAlt,
    Schema,
    fingerprint,
    spark_type_of,
)
from schisma_spark.session import cached_column


def py_lit(v: Any, dtype: T.DataType) -> Column:
    """Typed Column literal from a driver-side python value."""
    if v is None or v is _UNSET:
        return F.lit(None).cast(dtype)
    if isinstance(dtype, T.StructType):
        return F.struct(
            *[py_lit(v.get(f.name), f.dataType).alias(f.name) for f in dtype.fields]
        )
    if isinstance(dtype, T.ArrayType):
        if not v:
            return F.array().cast(dtype)
        return F.array(*[py_lit(e, dtype.elementType) for e in v])
    if isinstance(dtype, T.MapType):
        if not v:
            return F.map_from_arrays(
                F.array().cast("array<string>"),
                F.array().cast(T.ArrayType(dtype.valueType)),
            )
        ks = F.array(*[F.lit(str(k)) for k in v])
        vs = F.array(*[py_lit(x, dtype.valueType) for x in v.values()])
        return F.map_from_arrays(ks, vs)
    return F.lit(v).cast(dtype)


def default_literal(node: Node, populate_arrays: bool = False) -> Column:
    """``create()`` as a typed Column literal (driver-computed defaults)."""
    return py_lit(
        create_value(node, _UNSET, populate_arrays), spark_type_of(node)
    )


def _atomic_group(t: T.DataType) -> str | None:
    if isinstance(t, T.NumericType):
        return "num"
    if isinstance(t, T.StringType):
        return "str"
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, T.TimestampType):
        return "ts"
    if isinstance(t, T.TimestampNTZType):
        return "ntz"
    return None


# Atomic pairs whose try_cast ANALYZES on Spark 4.1.2 beyond same-group and
# string inter-cast (measured over the full cross product, r4/ADVICE —
# boolean<->date/timestamp and numeric<->date fail ANALYSIS, they don't
# return NULL, so listing them would raise at plan time)
_ATOMIC_CASTS = frozenset([
    ("num", "bool"), ("bool", "num"), ("num", "ts"), ("ts", "num"),
    ("date", "ts"), ("ts", "date"), ("date", "ntz"), ("ntz", "date"),
    ("ts", "ntz"), ("ntz", "ts"),
])


def _castable(src: T.DataType, dst: T.DataType) -> bool:
    """Driver-side "will ``try_cast`` analyze" check for union-field
    reconciliation: atomics inter-cast only along measured-analyzable
    pairs (``_ATOMIC_CASTS``; NULL on runtime failure), arrays and
    same-arity structs recurse; shape-changing casts (struct<->atomic,
    map<->array, boolean<->date, ...) would fail analysis, so the caller
    falls back to NULL for those."""
    if src == dst or isinstance(dst, T.StringType):
        return True
    s, d = _atomic_group(src), _atomic_group(dst)
    if s is not None and d is not None:
        return s == d or s == "str" or (s, d) in _ATOMIC_CASTS
    if isinstance(src, T.ArrayType) and isinstance(dst, T.ArrayType):
        return _castable(src.elementType, dst.elementType)
    if isinstance(src, T.StructType) and isinstance(dst, T.StructType):
        return len(src.fields) == len(dst.fields) and all(
            _castable(a.dataType, b.dataType)
            for a, b in zip(src.fields, dst.fields)
        )
    return False


def _alt_static_match(alt, dtype: T.DataType) -> bool:
    if isinstance(alt, AtomAlt):
        if alt.atom is ta.NULL:
            return False  # never conform-in-place to null
        return ta.static_match(alt.atom, dtype) in ("match", "integral")
    if isinstance(alt, ArrayAlt):
        return isinstance(dtype, T.ArrayType)
    if isinstance(alt, ObjectAlt):
        return isinstance(dtype, (T.StructType, T.MapType))
    if isinstance(alt, Node):
        return any(_alt_static_match(a, dtype) for a in alt.alts)
    return False


class Conformer:
    def __init__(self, remove_unexpected: bool, insert_missing: bool,
                 grow_arrays: bool, shrink_arrays: bool,
                 populate_arrays: bool):
        self.remove_unexpected = remove_unexpected
        self.insert_missing = insert_missing
        self.grow_arrays = grow_arrays
        self.shrink_arrays = shrink_arrays
        self.populate_arrays = populate_arrays
        # union scoring reuses the validate compiler (schisma.mjs:409-412:
        # conform delegates matching to validate)
        self._opts = Opts(
            ignore_short_arrays=not grow_arrays,
            ignore_long_arrays=not shrink_arrays,
        )

    # -- entry ---------------------------------------------------------------
    def conform_node(self, node: Node, c: Column, dtype: T.DataType):
        """Returns (Column, output DataType)."""
        if node.unmarshal is not None:
            c = node.unmarshal.fn(c)
            dtype = node.unmarshal.returns
        if not node.alts:
            return c, dtype

        cands = [(i, a) for i, a in enumerate(node.alts)
                 if _alt_static_match(a, dtype)]
        if not cands:
            # NO_MATCH everywhere -> coerce to first alternative
            # (create(conf, data) path, schisma.mjs:426-431,477-487)
            out, odt = self._coerce(node, node.alts[0], c, dtype)
            return self._null_guard(node, c, out, odt), odt
        if len(cands) == 1:
            out, odt = self._within(node, cands[0][1], c, dtype)
            return self._null_guard(node, c, out, odt), odt
        # several alternatives share this column's type (e.g. two object
        # variants over one struct): resolve per row by the union heuristic
        # and conform to the winner (test/conformance.mjs:36-75)
        where = F.lit(None).cast("string")
        hs = [
            check_alt(a, i, node, c, dtype, where, self._opts).h
            for i, a in cands
        ]
        best = best_index(F.array(*hs))
        if isinstance(dtype, T.StructType) and all(
            isinstance(a, ObjectAlt) for _, a in cands
        ):
            # widen to the UNION of the alternatives' natural output schemas
            # so insert_missing applies under object unions too (fields a
            # branch doesn't produce are null) — the old keep_shape rebuild
            # silently dropped inserted keys (r1 ADVICE). The reference
            # crashes on this case (no parity target); this is the engine's
            # documented relational semantics.
            outs_odts = [self._within(node, a, c, dtype) for _, a in cands]
            union: dict[str, T.DataType] = {}
            for _, odt in outs_odts:
                for f in odt.fields:
                    union.setdefault(f.name, f.dataType)
            target = T.StructType(
                [T.StructField(n, t) for n, t in union.items()]
            )
            aligned = []
            for out, odt in outs_odts:
                have = {f.name: f.dataType for f in odt.fields}

                def _field(n: str, t: T.DataType, out=out, have=have):
                    # same name, different type across alternatives: keep
                    # the branch's actual value via try_cast to the union
                    # type (r2 ADVICE — nulling it silently discarded the
                    # winning branch's conformed value); NULL only for
                    # genuinely absent or uncastable-shape fields
                    if have.get(n) == t:
                        return out.getField(n)
                    if n in have and _castable(have[n], t):
                        return out.getField(n).try_cast(t)
                    return F.lit(None).cast(t)

                aligned.append(F.struct(*[
                    _field(n, t).alias(n) for n, t in union.items()
                ]))
            expr = aligned[-1]
            for j in range(len(aligned) - 2, -1, -1):
                expr = F.when(best == F.lit(j + 1), aligned[j]).otherwise(expr)
            return self._null_guard(node, c, expr, target), target
        outs = [self._within(node, a, c, dtype, keep_shape=True)[0]
                for _, a in cands]
        expr = outs[-1]
        for j in range(len(outs) - 2, -1, -1):
            expr = F.when(best == F.lit(j + 1), outs[j]).otherwise(expr)
        return self._null_guard(node, c, expr, dtype), dtype

    def _null_guard(self, node: Node, orig: Column, out: Column,
                    odt: T.DataType) -> Column:
        """Missing (NULL) handling: insert default for required keys
        (schisma.mjs:445-452), leave optional/null-accepting values alone."""
        if node.accepts_null():
            return out
        if node.required and self.insert_missing:
            dl = py_lit(
                create_value(node, _UNSET, self.populate_arrays), odt
            )
            return F.when(orig.isNull(), dl).otherwise(out)
        return F.when(orig.isNull(), F.lit(None).cast(odt)).otherwise(out)

    # -- JS constructor coercion (NO_MATCH path, schisma.mjs:579-607) --------
    def _coerce(self, node: Node, alt, c: Column, dtype: T.DataType):
        if isinstance(alt, Node):
            return self.conform_node(alt, c, dtype)
        if isinstance(alt, ArrayAlt):
            # 0 -> [] (create() for arrays, schisma.mjs:553-557)
            odt = T.ArrayType(
                spark_type_of(alt.elems[0]) if alt.elems else T.StringType()
            )
            return py_lit(
                create_value(node, _UNSET, self.populate_arrays), odt
            ), odt
        if isinstance(alt, ObjectAlt):
            # 0 -> {required defaults} (schisma.mjs:559-566)
            odt = T.StructType(
                [
                    T.StructField(k, spark_type_of(v))
                    for k, v in alt.fields.items()
                    if v.required
                ]
            )
            return py_lit(
                create_value(node, _UNSET, self.populate_arrays), odt
            ), odt
        atom = alt.atom
        dl = lambda: py_lit(create_value(node, _UNSET), atom.spark_type)  # noqa: E731
        if atom is ta.NULL:
            return F.lit(None).cast("string"), T.StringType()
        if atom is ta.NUMBER or atom is ta.BIGINT:
            odt = atom.spark_type
            if isinstance(dtype, T.StringType):
                # Number('32')->32, Number('')->0, Number('abc')->NaN->default
                # (schisma.mjs:579-584)
                d = c.try_cast("double")
                out = (
                    F.when(F.trim(c) == "", F.lit(0).cast(odt))
                    .when(d.isNotNull(), d.cast(odt))
                    .otherwise(dl())
                )
                return out, odt
            if isinstance(dtype, T.BooleanType):
                return c.cast(odt), odt  # Boolean -> 1/0
            if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
                return (F.unix_micros(c) / 1000.0).cast(odt), odt  # JS ms
            if isinstance(dtype, (T.DoubleType, T.FloatType, T.DecimalType,
                                  T.LongType, T.IntegerType, T.ShortType,
                                  T.ByteType)):
                return c.cast(odt), odt
            return dl(), odt  # objects/arrays -> NaN -> default
        if atom is ta.STRING:
            odt = T.StringType()
            if isinstance(dtype, (T.StructType, T.MapType, T.ArrayType)):
                return F.to_json(c), odt  # String(obj) -> JSON.stringify
            if isinstance(dtype, (T.DoubleType, T.FloatType)):
                # JS drops the trailing '.0' of integral doubles
                return (
                    F.when(
                        (c == F.floor(c)) & (F.abs(c) < 1e15),
                        c.cast("long").cast("string"),
                    ).otherwise(c.cast("string"))
                ), odt
            return c.cast("string"), odt  # bool -> 'true'/'false', etc.
        if atom is ta.BOOLEAN:
            odt = T.BooleanType()
            if isinstance(dtype, T.StringType):
                return F.length(c) > 0, odt  # JS truthiness: '' falsy only
            if isinstance(dtype, (T.DoubleType, T.FloatType)):
                return (c != 0) & ~F.isnan(c), odt
            if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType,
                                  T.ByteType, T.DecimalType)):
                return c != 0, odt
            return F.lit(True), odt  # objects/arrays truthy
        if atom is ta.TIMESTAMP:
            odt = T.TimestampType()
            if isinstance(dtype, T.StringType):
                return c.try_cast(odt), odt
            if isinstance(dtype, (T.LongType, T.IntegerType, T.DoubleType,
                                  T.FloatType)):
                return F.timestamp_millis(c.cast("long")), odt
            return F.lit(None).cast(odt), odt
        if atom is ta.BINARY:
            odt = T.BinaryType()
            if isinstance(dtype, T.StringType):
                return F.encode(c, "UTF-8"), odt
            return F.encode(F.to_json(c), "UTF-8") if isinstance(
                dtype, (T.StructType, T.MapType, T.ArrayType)
            ) else F.encode(c.cast("string"), "UTF-8"), odt
        if atom is ta.DATE:
            odt = T.DateType()
            # boolean/numeric -> date fails ANALYSIS (not runtime-NULL);
            # only measured-analyzable sources may try_cast (r4/ADVICE)
            if _castable(dtype, odt):
                return c.try_cast(odt), odt
            return F.lit(None).cast(odt), odt
        return dl(), atom.spark_type

    # -- repair within a statically-matching alternative ---------------------
    def _within(self, node: Node, alt, c: Column, dtype: T.DataType,
                keep_shape: bool = False):
        if isinstance(alt, Node):
            return self.conform_node(alt, c, dtype)
        if isinstance(alt, AtomAlt):
            if ta.static_match(alt.atom, dtype) == "integral":
                # BIGINT over floating: non-integral values -> default
                dl = py_lit(create_value(node, _UNSET), dtype)
                return F.when(c == F.floor(c), c).otherwise(dl), dtype
            return c, dtype
        if isinstance(alt, ArrayAlt):
            return self._within_array(node, alt, c, dtype)
        if isinstance(alt, ObjectAlt):
            if isinstance(dtype, T.StructType):
                return self._within_struct(alt, c, dtype, keep_shape)
            return self._within_map(alt, c, dtype)
        raise TypeError(f"bad alternative {alt!r}")

    def _conform_element(self, elems: list[Node], x: Column, ed: T.DataType):
        """Element repair: best statically-matching element schema, else
        coerce to the first (schisma.mjs:488-514)."""
        cands = [e for e in elems if any(_alt_static_match(a, ed) for a in e.alts)]
        target = cands[0] if cands else elems[0]
        out, _ = self.conform_node(target, x, ed)
        return out

    def _within_array(self, node: Node, alt: ArrayAlt, c: Column,
                      dtype: T.ArrayType):
        ed = dtype.elementType
        m = len(alt.elems)
        if m == 0:
            # schema literal [] constrains nothing about elements
            # (schisma.mjs:31-33: length-insensitive, no element types)
            return c, dtype
        out = F.transform(c, lambda x: self._conform_element(alt.elems, x, ed))
        if self.shrink_arrays:
            out = F.when(F.size(out) > m, F.slice(out, 1, m)).otherwise(out)
        if self.grow_arrays and m > 0:
            defaults = F.array(
                *[py_lit(create_value(e, _UNSET, self.populate_arrays), ed)
                  for e in alt.elems]
            )
            grown = F.concat(
                out, F.slice(defaults, F.size(out) + 1, F.lit(m) - F.size(out))
            )
            out = F.when(F.size(out) < m, grown).otherwise(out)
        if self.populate_arrays and m > 0:
            defaults = F.array(
                *[py_lit(create_value(e, _UNSET, True), ed) for e in alt.elems]
            )
            out = F.when(F.size(out) == 0, defaults).otherwise(out)
        return out, dtype

    def _within_struct(self, alt: ObjectAlt, c: Column, dtype: T.StructType,
                       keep_shape: bool):
        """Rebuild a struct to schema shape: conform known fields, insert
        missing defaults, drop (or null, under keep_shape) unexpected
        (schisma.mjs:439-452)."""
        present = {f.name: f.dataType for f in dtype.fields}
        out_fields: list[Column] = []
        out_schema: list[T.StructField] = []
        done = set()
        for k, child in alt.fields.items():
            if k in present:
                cc, odt = self.conform_node(child, c.getField(k), present[k])
                out_fields.append(cc.alias(k))
                out_schema.append(T.StructField(k, odt))
                done.add(k)
            elif self.insert_missing and child.required:
                odt = spark_type_of(child)
                out_fields.append(
                    py_lit(create_value(child, _UNSET, self.populate_arrays),
                           odt).alias(k)
                )
                out_schema.append(T.StructField(k, odt))
        for k, vdt in present.items():
            if k in done:
                continue
            matched = any(_re.search(p, k) for p, _ in alt.regex)
            if matched or not self.remove_unexpected:
                out_fields.append(c.getField(k).alias(k))
                out_schema.append(T.StructField(k, vdt))
            elif keep_shape:
                out_fields.append(F.lit(None).cast(vdt).alias(k))
                out_schema.append(T.StructField(k, vdt))
        if keep_shape:
            # preserve input field order/shape so union branches align
            by_name = {f.name: fc for fc, f in zip(out_fields, out_schema)}
            out_fields = [
                by_name.get(f.name, F.lit(None).cast(f.dataType).alias(f.name))
                for f in dtype.fields
            ]
            return F.struct(*out_fields), dtype
        return F.struct(*out_fields), T.StructType(out_schema)

    def _within_map(self, alt: ObjectAlt, c: Column, dtype: T.MapType):
        """Open-keyed object repair over MapType: drop unexpected entries,
        insert missing required fixed keys."""
        out = c
        if self.remove_unexpected:
            fixed = list(alt.fields)
            pats = [p for p, _ in alt.regex]

            def keep(k: Column, v: Column) -> Column:
                cond = F.lit(False)
                if fixed:
                    cond = cond | k.isin(*fixed)
                for p in pats:
                    cond = cond | k.rlike(p)
                return cond

            out = F.map_filter(out, keep)
        if self.insert_missing:
            for k, child in alt.fields.items():
                if not child.required:
                    continue
                dl = py_lit(
                    create_value(child, _UNSET, self.populate_arrays),
                    dtype.valueType,
                )
                # element_at is NULL both for an absent key and for a
                # present-but-null value; drop the null-valued entry first
                # or map_concat throws DUPLICATED_MAP_KEY
                cleaned = F.map_filter(
                    out, lambda k2, v2: ~((k2 == F.lit(k)) & v2.isNull())
                )
                ins = F.map_concat(cleaned, F.create_map(F.lit(k), dl))
                out = F.when(
                    F.element_at(out, F.lit(k)).isNull(), ins
                ).otherwise(out)
        return out, dtype


def conform(
    df: DataFrame,
    sch: Schema,
    keys: list[str] | None = None,
    remove_unexpected: bool = True,
    insert_missing: bool = True,
    match_array: str = "any",
    grow_arrays: bool = False,
    shrink_arrays: bool = False,
    populate_arrays: bool = False,
) -> DataFrame:
    """Repair ``df`` to match ``sch`` in one ``select``.

    Option surface mirrors the reference (schisma.mjs:408; README.md:295-301)
    — ``match_array`` accepted-but-inert, faithfully.
    """
    del match_array  # documented no-op in the reference (SURVEY §2.A R3)
    alt = sch.root.alts[0]
    if not isinstance(alt, ObjectAlt):
        raise TypeError("root schema must be an object (dict literal)")
    keys = list(keys or [])

    def build() -> tuple:
        conf = Conformer(remove_unexpected, insert_missing, grow_arrays,
                         shrink_arrays, populate_arrays)
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        cols: list[Column] = [F.col(k) for k in keys]
        for k, child in alt.fields.items():
            if k in keys:  # key columns pass through untouched (like
                continue   # validate's exempt set); both would duplicate
            if k in dtypes:
                out, _ = conf.conform_node(child, F.col(k), dtypes[k])
                cols.append(out.alias(k))
            elif conf.insert_missing and child.required:
                cols.append(default_literal(child, populate_arrays).alias(k))
        fixed = set(alt.fields) | set(keys)
        for k in dtypes:
            if k in fixed:
                continue
            matched = any(_re.search(p, k) for p, _ in alt.regex)
            if matched or not conf.remove_unexpected:
                cols.append(F.col(k))
        return tuple(cols)

    return df.select(*cached_column(
        ("conform", fingerprint(sch.root), tuple(keys), remove_unexpected,
         insert_missing, grow_arrays, shrink_arrays, populate_arrays,
         df.schema.json()), build))
