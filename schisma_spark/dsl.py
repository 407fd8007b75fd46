"""Schema DSL: Python literals -> a typed node tree.

The analog of the reference's ``_understand``
(/root/reference/src/schisma.mjs:25-95): six node kinds (Primitive, Class,
Null, Object, Array, SchismaObject->Field), eager one-shot parse, nodes
compose (a ``Schema``/``Node`` may be embedded in another literal), regex
keys spelled ``$/<re>`` whose value is a list of alternative types
(schisma.mjs:58-68).

Everything here is pure driver-side Python — no Spark job is ever launched
by schema construction (same as the reference, §3.1 EP1 of SURVEY.md).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Callable

from pyspark.sql import types as T

from schisma_spark import typeatoms as ta

_UNSET = object()


class _NullSentinel:
    """DSL marker for the Null type (analog of ``Schisma.Null``,
    schisma.mjs:675-677). ``None`` literals in a schema also parse to it."""

    def __repr__(self) -> str:  # pragma: no cover
        return "Null"


Null = _NullSentinel()


@dataclass
class Unmarshal:
    """A pre-transform applied to the raw column before checks run
    (analog of ``$unmarshal``, schisma.mjs:138-140). ``fn`` maps a Column
    to a Column; ``returns`` declares the output Spark type so downstream
    checks can compile statically."""

    fn: Callable  # Column -> Column
    returns: T.DataType


@dataclass
class Field:
    """Explicit node spec — analog of the reference's ``SchismaObject``
    (``$type/$typeof/$default/$required/$validate/$unmarshal``,
    schisma.mjs:39-57).

    ``validate`` is a Column predicate builder: ``fn(col) -> Column[bool]``
    (True/None = valid) or ``fn(col) -> (Column[bool], Column[str])`` with a
    per-row message — the engine analog of ``$validate``
    (schisma.mjs:141-172). Prefer built-in Column exprs; pandas UDFs are
    accepted (they are Columns too) but are the slow path.
    """

    type: Any = _UNSET
    typeof: list | None = None
    default: Any = _UNSET
    required: bool = True
    validate: Callable | None = None
    unmarshal: Unmarshal | None = None
    castable: bool = False  # engine extension: type check via try_cast
                            # (conformance) instead of typeof-equality


# ---------------------------------------------------------------------------
# Node tree


@dataclass
class Node:
    """One schema node. ``alts`` holds the ``$typeof`` alternatives; each
    alternative is an ``AtomAlt`` / ``ArrayAlt`` / ``ObjectAlt`` / nested
    ``Node`` (embedded schema)."""

    kind: str  # Primitive|Class|Null|Object|Array|Field
    alts: list = dc_field(default_factory=list)
    default: Any = _UNSET
    required: bool = True
    validate: Callable | None = None
    unmarshal: Unmarshal | None = None
    castable: bool = False

    @property
    def has_default(self) -> bool:
        return self.default is not _UNSET

    def accepts_null(self) -> bool:
        """True when SQL NULL is a *value* for this node (a Null alternative
        exists) rather than an absent key. See SURVEY.md §7 hard-part (c):
        the relational mapping collapses JS ``undefined``/``null`` into SQL
        NULL; nodes with a Null alternative read NULL as the value null."""
        for a in self.alts:
            if isinstance(a, AtomAlt) and a.atom is ta.NULL:
                return True
            if isinstance(a, Node) and a.accepts_null():
                return True
        return False


@dataclass
class AtomAlt:
    atom: ta.TypeAtom


@dataclass
class ArrayAlt:
    """Array-of-types alternative (schisma.mjs:31-33): elements match the
    best of ``elems``; schema length only enforced under
    ignoreShort/LongArrays=False (schisma.mjs:196-222)."""

    elems: list[Node]


@dataclass
class ObjectAlt:
    """Fixed key->Node map plus regex matchers (``$/re`` keys,
    schisma.mjs:58-68): ``regex`` is a declaration-ordered list of
    (pattern, [alternative Nodes])."""

    fields: dict[str, Node]
    regex: list[tuple[str, list[Node]]] = dc_field(default_factory=list)


def parse(o: Any) -> Node:
    """Literal -> Node; the ``_understand`` kind dispatch
    (schisma.mjs:25-95)."""
    if isinstance(o, Schema):
        return o.root
    if isinstance(o, Node):
        return o
    if isinstance(o, Field):
        return _parse_field(o)
    if isinstance(o, Unmarshal):
        raise TypeError("Unmarshal must be attached via Field(unmarshal=...)")
    if isinstance(o, list):
        return Node(kind="Array", alts=[ArrayAlt([parse(t) for t in o])])
    if o is None or isinstance(o, _NullSentinel):
        return Node(kind="Null", alts=[AtomAlt(ta.NULL)], default=None)
    if isinstance(o, dict):
        if any(k in o for k in ("$type", "$typeof", "$validate")) or any(
            str(k).startswith("$") and not str(k).startswith("$/") for k in o
        ):
            return _parse_field(
                Field(
                    type=o.get("$type", _UNSET),
                    typeof=o.get("$typeof"),
                    default=o.get("$default", _UNSET),
                    required=o.get("$required", True),
                    validate=o.get("$validate"),
                    unmarshal=o.get("$unmarshal"),
                    castable=o.get("$castable", False),
                )
            )
        fields: dict[str, Node] = {}
        regex: list[tuple[str, list[Node]]] = []
        for k, v in o.items():
            if str(k).startswith("$/"):
                if not isinstance(v, list):
                    raise TypeError(f"regex key {k!r} value must be a list of types")
                if not v:
                    # no alternative to pick from: every check compiler's
                    # union pick would fail Spark analysis (NULL_TYPE)
                    raise ValueError(f"regex key {k!r} needs at least one type")
                regex.append((str(k)[2:], [parse(t) for t in v]))
            else:
                fields[str(k)] = parse(v)
        return Node(kind="Object", alts=[ObjectAlt(fields, regex)])
    if isinstance(o, type) or isinstance(o, ta.TypeAtom):
        atom = o if isinstance(o, ta.TypeAtom) else ta.PY_TYPE_ATOMS.get(o)
        if atom is None:
            raise TypeError(f"unsupported class type in schema: {o!r}")
        return Node(kind="Class", alts=[AtomAlt(atom)])
    if isinstance(o, T.DataType):
        return Node(kind="Class", alts=[AtomAlt(_atom_for_spark_type(o))])
    # primitive literal: doubles as type + default (schisma.mjs:74-93)
    if isinstance(o, bool):
        return Node(kind="Primitive", alts=[AtomAlt(ta.BOOLEAN)], default=o)
    if isinstance(o, float):
        return Node(kind="Primitive", alts=[AtomAlt(ta.NUMBER)], default=o)
    if isinstance(o, int):
        return Node(kind="Primitive", alts=[AtomAlt(ta.BIGINT)], default=o)
    if isinstance(o, str):
        return Node(kind="Primitive", alts=[AtomAlt(ta.STRING)], default=o)
    if isinstance(o, (bytes, bytearray)):
        return Node(kind="Primitive", alts=[AtomAlt(ta.BINARY)], default=bytes(o))
    raise TypeError(f"cannot understand schema literal: {o!r}")


def _atom_for_spark_type(dt: T.DataType) -> ta.TypeAtom:
    for atom in (ta.NUMBER, ta.BIGINT, ta.STRING, ta.BOOLEAN, ta.BINARY,
                 ta.TIMESTAMP, ta.DATE, ta.NULL):
        if type(atom.spark_type) is type(dt):
            return atom
    raise TypeError(f"unsupported Spark type in schema: {dt!r}")


def _parse_field(f: Field) -> Node:
    raw: list = []
    if f.typeof is not None:
        raw = list(f.typeof)
    elif f.type is not _UNSET:
        raw = [f.type]
    elif f.default is not _UNSET and f.default is not None:
        raw = [f.default if isinstance(f.default, (dict, list)) else type(f.default)]
    elif f.validate is None:
        raise TypeError("Field needs at least one of type/typeof/default/validate")
    alts = []
    for t in raw:
        n = parse(t)
        # hoist plain wrapper nodes so Field-level options (castable) apply
        # directly to the alternative and union plans stay shallow
        if (
            not isinstance(t, (Node, Schema))
            and n.kind in ("Class", "Array", "Object", "Null")
            and n.validate is None
            and n.unmarshal is None
        ):
            alts.extend(n.alts)
        else:
            alts.append(n)
    node = Node(
        kind="Field",
        alts=alts,
        default=f.default,
        required=f.required,
        validate=f.validate,
        unmarshal=f.unmarshal,
        castable=f.castable,
    )
    return node


# ---------------------------------------------------------------------------
# Structural fingerprint (the compiled-Column memo's schema key)

_ATOMS = {a.name: a for a in (ta.NUMBER, ta.BIGINT, ta.STRING, ta.BOOLEAN,
                              ta.NULL, ta.BINARY, ta.TIMESTAMP, ta.DATE)}


def fingerprint(node: Node) -> tuple:
    """Hashable structural key of a node tree, recomputed on every call so
    a schema mutated in place gets a new key. Built-in atoms go in by name,
    regex keys as ``(pattern, alternatives)`` in declaration order, and
    defaults by canonical repr. Callables (``$validate``, ``$unmarshal``
    functions, default thunks) and any other atom go in by identity: the
    objects themselves sit in the key, so an id is never reused while the
    key lives."""
    u = node.unmarshal
    return ("N", node.kind, tuple(_alt_key(a) for a in node.alts),
            _canon(node.default), node.required, node.validate,
            None if u is None else
            (u.fn, u.returns.json(), getattr(u, "py", None)),
            node.castable)


def _alt_key(alt) -> tuple:
    if isinstance(alt, Node):
        return fingerprint(alt)
    if isinstance(alt, AtomAlt):
        a = alt.atom
        return ("A", a.name) if _ATOMS.get(a.name) is a else ("A", id(a), a)
    if isinstance(alt, ArrayAlt):
        return ("R", tuple(fingerprint(e) for e in alt.elems))
    return ("O", tuple((k, fingerprint(v)) for k, v in alt.fields.items()),
            tuple((p, tuple(fingerprint(n) for n in alts))
                  for p, alts in alt.regex))


def _canon(v) -> Any:
    if v is _UNSET:
        return "$unset"
    if callable(v):
        return v
    if isinstance(v, dict):
        return ("dict", tuple((_canon(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return (type(v).__name__, tuple(_canon(x) for x in v))
    return (type(v).__name__, repr(v))


# ---------------------------------------------------------------------------
# Spark schema derivation (StructType for the root object)


def spark_type_of(node: Node) -> T.DataType:
    """Preferred Spark type for a node (first alternative wins, mirroring
    ``create()``'s use of ``$typeof[0]``, schisma.mjs:549)."""
    if node.unmarshal is not None:
        return node.unmarshal.returns
    if not node.alts:
        return T.StringType()
    return _spark_type_of_alt(node.alts[0])


def _spark_type_of_alt(alt) -> T.DataType:
    if isinstance(alt, AtomAlt):
        return T.StringType() if alt.atom is ta.NULL else alt.atom.spark_type
    if isinstance(alt, Node):
        return spark_type_of(alt)
    if isinstance(alt, ArrayAlt):
        elem = _spark_type_of_alt(alt.elems[0].alts[0]) if alt.elems else T.StringType()
        return T.ArrayType(elem)
    if isinstance(alt, ObjectAlt):
        if alt.regex and not alt.fields:
            vals = alt.regex[0][1]
            vt = spark_type_of(vals[0]) if vals else T.StringType()
            return T.MapType(T.StringType(), vt)
        return T.StructType(
            [
                T.StructField(k, spark_type_of(v), nullable=True)
                for k, v in alt.fields.items()
            ]
        )
    raise TypeError(f"bad alternative: {alt!r}")


def struct_type(root: Node) -> T.StructType:
    alt = root.alts[0]
    if not isinstance(alt, ObjectAlt):
        raise TypeError("root schema must be an object (dict literal)")
    return _spark_type_of_alt(alt)  # type: ignore[return-value]


# ---------------------------------------------------------------------------
# Schema facade


class Schema:
    """Compiled schema — the engine's public handle (analog of the
    ``Schisma`` class). Construction never launches a Spark job."""

    def __init__(self, definition: Any):
        self.root = parse(definition)

    # StructType of the root object (first alternatives).
    @property
    def struct_type(self) -> T.StructType:
        return struct_type(self.root)

    # -- distributed ops (implemented in sibling modules; bound lazily to
    #    avoid import cycles) ------------------------------------------------
    def validate(self, df, **opts):
        from schisma_spark.validate import validate as _validate

        return _validate(df, self, **opts)

    def conform(self, df, **opts):
        from schisma_spark.conform import conform as _conform

        return _conform(df, self, **opts)

    # -- driver-side ops -----------------------------------------------------
    def create(self, data: Any = _UNSET, populate_arrays: bool = False):
        from schisma_spark.create import create_value

        return create_value(self.root, data, populate_arrays=populate_arrays)

    def create_property(self, which: str = "", data: Any = _UNSET,
                        populate_arrays: bool = False):
        from schisma_spark.create import create_property

        return create_property(self.root, which, data,
                               populate_arrays=populate_arrays)

    def default_row(self) -> dict:
        from schisma_spark.create import create_value

        return create_value(self.root, _UNSET, populate_arrays=False)


def schema(definition: Any) -> Schema:
    """Factory — analog of ``schisma(def)`` (schisma.mjs:679-681)."""
    return Schema(definition)


def recursive(build, depth: int) -> Schema:
    """Recursive schemas, depth-limited.

    The reference expresses recursion by re-entering ``validate`` from a
    ``$validate`` thunk (test/recursiveSchema.mjs:6-14) — an unbounded
    runtime loop. Spark columns have static types, so recursion compiles to
    an explicit ``depth``-fold expansion: ``build(child)`` receives the
    schema for the next level (or a permissive leaf at the bottom).

    Example::

        tree = recursive(
            lambda child: {"name": str,
                           "kids": Field(typeof=[[child]], required=False)},
            depth=3,
        )
    """
    leaf: Any = Field(type=str, required=False, validate=lambda c: F_true(c))
    node: Any = leaf
    for _ in range(depth):
        node = build(node)
    return Schema(node)


def F_true(_c):  # permissive leaf predicate for recursion bottom
    from pyspark.sql import functions as F

    return F.lit(True)
