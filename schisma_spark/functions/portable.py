"""Portable deterministic hashing.

Spark's ``xxhash64``/``hash`` have no DuckDB twins, so every hash that
feeds an oracle-checked result uses an md5-hex-prefix construction that
evaluates identically in Spark and ANSI-ish SQL:

    Spark : conv(substring(md5(x), 1, 8), 16, 10)::long
    DuckDB: ('0x' || substr(md5(x), 1, 8))::int64

(verified equal: 'hello world' -> 1589001147 on both). 15 hex chars = 60
bits still fits a signed int64 on both sides. For purely internal hashing
(salts, buckets) prefer ``F.xxhash64`` — cheaper, JVM-native.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH32_MAX = 0xFFFFFFFF


def hash32(c: Column) -> Column:
    """32-bit portable hash (non-negative, fits int64 exactly)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def hash32_native(*cols: Column) -> Column:
    """32-bit NATIVE hash (xxhash64 masked): ~an order of magnitude cheaper
    than the md5 construction (no hex round-trip, fully code-generated,
    multi-arg without string concat) but has no DuckDB twin — the
    production path for hash-heavy operators (minhash/simhash) when oracle
    parity is not required. Same non-negative 32-bit range as hash32."""
    return F.xxhash64(*cols).bitwiseAND(F.lit(HASH32_MAX))


def hash60(c: Column) -> Column:
    """60-bit portable hash."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _lit_array(values, elem: str, conv) -> Column:
    """``values`` (a flat list, or a list of lists) as ONE folded array
    literal of ``elem``: the JSON text of the values under ``from_json``.
    The optimizer folds the call into a single array Literal, so the
    analyzed plan of every frame derived from it holds one node — an
    ``array(array(0.1D, ...), ...)`` SQL string held one unresolved node
    per element (~3,100 for the 8x6x64 hyperplane matrix), re-resolved for
    every derived select, join and distinct. ``F.lit(list)`` is worse
    still: it converts element-wise over py4j (1.2 s for 3,072 floats)."""
    if values and isinstance(values[0], (list, tuple)):
        values = [[conv(x) for x in row] for row in values]
        elem = f"array<{elem}>"
    else:
        values = [conv(x) for x in values]
    return F.from_json(F.lit(json.dumps(values, allow_nan=False)),
                       f"array<{elem}>")


def lit_doubles(values) -> Column:
    """Literal ``array<double>`` (or ``array<array<double>>``), bit-exact:
    ``json.dumps`` writes each float's shortest round-trip repr and Spark's
    JSON reader parses it correctly rounded (``-0.0``, subnormals and the
    extremes included). NaN and infinities have no JSON spelling and raise
    ``ValueError``."""
    return _lit_array(values, "double", float)


def lit_longs(values) -> Column:
    """Literal ``array<bigint>`` (see ``lit_doubles``); JSON integers are
    exact over the whole signed 64-bit range."""
    return _lit_array(values, "bigint", int)


def bind(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``value`` ONCE per row
    and pass it to ``body`` as a lambda variable.

    Why: composing Column helpers inlines the argument expression at every
    reference — ``simhash`` naively recomputes its per-token hash array 32
    times (once per bit), turning O(tokens) into O(32*tokens) md5 calls,
    and Catalyst's CollapseProject can undo a materializing select. A
    higher-order-function lambda variable is evaluated once, giving real
    let semantics inside a single expression tree.
    """
    return F.element_at(F.transform(F.array(value), body), 1)
