"""True unbounded-depth recursive validation over JSON documents.

The reference expresses recursion by re-entering ``validate`` from a
``$validate`` thunk (/root/reference/test/recursiveSchema.mjs:5-35, via the
array-return branch schisma.mjs:143-152). ``dsl.recursive()`` compiles a
DEPTH-LIMITED expansion (columns have static types); this module removes
the limit for JSON payloads: a breadth-first loop over a VARIANT frontier
validates one nesting level per iteration and stops when the data runs out
of children — the recursion depth is the DATA's depth, not a compile-time
constant.

Scale shape: level L's frontier holds every node at depth L across ALL
documents — one narrow DataFrame (keys, path, variant subtree) — so each
iteration is a single distributed pass; nothing ever collects to the
driver and no row recurses in Python.

Driver cost is constant per level, not per expression:

- ONE compile: the level check is built once over the columns ``_v``
  (node variant) and ``_where`` (its path) and reused by every level;
  level 0 feeds it from a projection that parses each document once and
  wraps it in the NULL-input and malformed-JSON branches. These Columns
  are name-bound, so they are memoized per JVM (``session.cached_column``)
  and a repeated call with the same schema builds none of them.
- ONE Spark job per level: each level is lazily ``localCheckpoint``'d and
  a single ``sources.materialize`` action both fills the checkpoint and
  returns the level's row, has-violations and has-children counts, which
  steer the loop. Job count = max document depth + one per level with
  violations + the caller's collect.

Storage discipline: at most TWO frontier checkpoints are held at once
(level L−1 is freed as soon as level L is materialized); per-level
violation frames are small (problem rows only) and clean levels hold
none, so the final union never re-walks the corpus.

Carrier rows (schisma.mjs:143-152) need no second descent: a carrier sits
at every boundary prefix of a violation path (``children.0``,
``children.0.children.1``, ...), so the returned frame LAZILY joins those
distinct prefixes back to their documents on ``keys`` and reads each
subtree by path (``$.children[0].children[1]``). Only problem documents
reach ``to_json``; a clean corpus never builds the join at all.

Violation parity with the reference run (verified by executing the
reference on a planted-error tree):

- field errors carry full dot paths (``children.0.children.1.name``)
- every recursion boundary with ANY problem in its subtree emits an
  INVALID carrier row whose ``value`` is the subtree JSON (the array-return
  carrier, schisma.mjs:143-152); the root carrier is unwrapped
  (schisma.mjs:113)
- benign divergence: the engine fills ``expected`` on type NO_MATCH rows
  (the reference's class-check path leaves it undefined here)
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from schisma_spark.compiler import Opts, empty_varr, viol
from schisma_spark.dsl import Field, Node, fingerprint, schema as make_schema
from schisma_spark.functions.portable import bind
from schisma_spark.result import INVALID, VIOLATION_FIELDS
from schisma_spark.session import cached_column
from schisma_spark.sources import Checkpoints, materialize
from schisma_spark.variant_validate import check_variant_node


def _boundary_prefixes(where: Column, recurse_field: str) -> Column:
    """All strict prefixes of ``where`` that end at a recursion boundary
    (``<recurse_field>.<idx>`` segment pair) — the carrier paths for one
    violation. Pure array expressions; the segment array is let-bound."""

    def body(s: Column) -> Column:
        return F.filter(
            F.transform(
                s,
                lambda seg, i: F.when(
                    seg.rlike("^[0-9]+$")
                    & (F.get(s, i - 1) == F.lit(recurse_field))
                    & (i + 1 < F.size(s)),
                    F.array_join(F.slice(s, 1, i + 1), "."),
                ),
            ),
            lambda x: x.isNotNull(),
        )

    return bind(F.split(where, r"\."), body)


def _chain_path(path: Column, recurse_field: str, key: str) -> Column:
    """Variant path of a pure ``<rf>.<i>(.<rf>.<i>)*`` chain:
    ``children.0.children.1`` -> ``$.children[0].children[1]``. The index
    segments are digits, so every ``.<rf>.`` left after the leading
    ``<rf>.`` is a boundary between two indices."""
    return F.concat(
        F.lit(f"${key}["),
        F.replace(F.substring(path, len(recurse_field) + 2, 1 << 30),
                  F.lit(f".{recurse_field}."), F.lit(f"]{key}[")),
        F.lit("]"),
    )


def validate_json_recursive(
    df: DataFrame,
    json_col: str,
    fields: dict,
    keys: list[str],
    recurse_field: str = "children",
    ignore_unexpected: bool = False,
    max_depth: int = 1000,
) -> DataFrame:
    """Validate a self-referential JSON document column.

    ``fields`` describes ONE level's non-recursive fields (a schema dict,
    e.g. ``{"name": str}``); ``recurse_field`` names the optional
    array-of-self field. Returns flat violation rows
    (``keys..., code, where, expected, received, value, message,
    type_index``) for every level of every document, plus the reference's
    INVALID carrier rows at problem boundaries.

    ``max_depth`` is a runaway guard (a JSON document's depth is bounded by
    its size, so the loop always terminates; the guard catches documents
    far beyond the design depth and raises instead of looping on)."""
    keys = list(keys)
    opts = Opts(ignore_unexpected=ignore_unexpected)
    level = make_schema(
        {**fields, recurse_field: Field(typeof=[[]], required=False)}
    ).root
    c = cached_column(
        ("validate_json_recursive", fingerprint(level), recurse_field, opts,
         json_col),
        lambda: _level_columns(level, json_col, recurse_field, opts))

    def check(frontier: DataFrame, viols: Column) -> DataFrame:
        return frontier.select(*keys, "_where", viols, c["children"])

    # level 0: NULL input -> no violations; malformed -> the reference's
    # single INVALID row; else the level check. The parse sits in the
    # lower projection, so it runs once per row however many references
    # the check hangs off ``_v`` (CollapseProject keeps a non-cheap
    # expression with several consumers below them).
    combined_lazy = check(df.select(*keys, *c["roots"]), c["root_viols"])

    ckpts = Checkpoints(df.sparkSession)
    level_viols: list[DataFrame] = []
    prev = frozenset()
    depth = 0
    try:
        while True:
            combined, cur = ckpts.take(combined_lazy, eager=False)
            stats = materialize(combined, *c["stats"])
            ckpts.free(prev)  # level L-1's blocks die here
            prev = cur
            if stats["n"] == 0:
                break
            # guard AFTER the emptiness test: a corpus whose deepest node
            # sits exactly at max_depth must validate — only a NON-empty
            # frontier beyond the limit is a runaway
            if depth > max_depth:
                raise RuntimeError(
                    f"document depth exceeds max_depth={max_depth}; raise "
                    "the guard if this corpus is genuinely that deep"
                )
            if stats["nv"]:
                level_viols.append(ckpts.take(
                    combined.where(c["has_viols"])
                    .select(*keys, c["explode"])
                    .select(*keys, *c["fields"])
                )[0])
            if not stats["nc"]:
                break
            combined_lazy = check(
                combined.where(c["has_children"])
                .select(*keys, "_where", c["posexplode"])
                .select(*keys, c["child_where"], "_v"),
                c["node_viols"],
            )
            depth += 1
        ckpts.free(prev)
    except BaseException:
        ckpts.free_all()
        raise

    if not level_viols:
        # zero violations anywhere: a limit(0) projection in the exact
        # output schema — OptimizeLimitZero folds it to an empty
        # relation, so the final collect never touches the corpus
        return (df.limit(0).select(*keys, c["no_viol"])
                .select(*keys, "_x.*"))
    viols = level_viols[0]
    for v in level_viols[1:]:
        viols = viols.unionByName(v)

    # carriers: the distinct boundary prefixes that the descent could
    # reach (pure recurse-field chains from the root), looked up in their
    # documents by path. A path with no node (a duplicate key's other
    # document) reads SQL NULL and is dropped, as the old descent's join
    # dropped it.
    paths = (
        viols.select(*keys, c["prefixes"]).where(c["chain_path"]).distinct()
    )
    carriers = (
        paths.join(df.select(*keys, json_col), on=keys)
        .select(*keys, "_path", c["subtree"])
        .where(c["has_subtree"])
        .select(*keys, c["carrier"])
        .select(*keys, "_x.*")
    )
    return viols.unionByName(carriers)


def _level_columns(level: Node, json_col: str, recurse_field: str,
                   opts: Opts) -> dict:
    """Every Column :func:`validate_json_recursive` builds, by role: the
    level check over ``_v``/``_where`` (compiled ONCE, reused by every
    level), the level-0 projection and the loop's fixed selections. All
    are name-bound, so one set serves every call with these arguments."""
    # variant path key for the recursive field (bracket-quoted when the
    # dot form would not parse)
    key = (f".{recurse_field}" if "[" not in recurse_field
           else f"['{recurse_field}']")
    col = F.col(json_col)
    node = check_variant_node(level, F.col("_v"), F.col("_where"), opts)
    malformed = viol(INVALID, where=None, expected="json",
                     received=F.col("_head"), message="malformed json")
    rf = re.escape(recurse_field)
    return {
        "node_viols": node.viols.alias("_viols"),
        "children": F.try_variant_get(F.col("_v"), f"${key}",
                                      "array<variant>").alias("_ch"),
        "roots": (
            F.lit(None).cast("string").alias("_where"),
            col.isNull().alias("_null"),
            F.substring(col, 1, 64).alias("_head"),
            F.try_parse_json(col).alias("_v"),
        ),
        "root_viols": (
            F.when(F.col("_null"), empty_varr())
            .when(F.col("_v").isNull(), F.array(malformed))
            .otherwise(node.viols).alias("_viols")
        ),
        "stats": (
            F.count(F.lit(1)).alias("n"),
            F.sum((F.size("_viols") > 0).cast("long")).alias("nv"),
            F.sum(F.col("_ch").isNotNull().cast("long")).alias("nc"),
        ),
        "has_viols": F.size("_viols") > 0,
        "explode": F.explode("_viols").alias("_x"),
        "fields": tuple(F.col(f"_x.{f}").alias(f) for f in VIOLATION_FIELDS),
        "has_children": F.col("_ch").isNotNull(),
        "posexplode": F.posexplode("_ch").alias("_i", "_v"),
        "child_where": F.concat_ws(".", "_where", F.lit(recurse_field),
                                   F.col("_i").cast("string"))
        .alias("_where"),
        "no_viol": viol(INVALID, where=None).alias("_x"),
        "prefixes": F.explode(_boundary_prefixes(
            F.col("where"), recurse_field)).alias("_path"),
        "chain_path": F.col("_path").rlike(
            rf"^{rf}\.[0-9]+(\.{rf}\.[0-9]+)*$"),
        "subtree": F.try_variant_get(
            F.try_parse_json(col),
            _chain_path(F.col("_path"), recurse_field, key),
            "variant").alias("_s"),
        "has_subtree": F.col("_s").isNotNull(),
        "carrier": viol(INVALID, where=F.col("_path"),
                        value=F.to_json("_s")).alias("_x"),
    }
