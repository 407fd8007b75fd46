"""The benchmark workloads and their ops.

A pass runs a workload's ops one after another from one client (a closed
loop). Each op is a public library call plus the action a user would run on
its result; ``run`` is the timed part and returns raw results, ``check``
compares them with the independent expectation afterwards.

Ops whose id-keyed plants mirror a ``__spark_entry__`` query do so exactly,
because that query's ``oracle_sql()`` twin is their expectation.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass
from typing import Any, Callable

from perfbench import expect, inputs


@dataclass
class Op:
    name: str
    layer: str
    run: Callable[["Ctx", str], Any]
    check: Callable[["Ctx", Any, str], int]  # -> mismatched rows
    gate: bool = False  # the pass's verdicts are on the driver once it ends


class Ctx:
    """What ops share during a run: the opened frames, expected outputs, the
    tracer and the gate timestamp of the current pass."""

    def __init__(self, frames: dict, expected: dict, tracer):
        self.frames = frames
        self.expected = expected
        self.tracer = tracer
        self.gate_t: float | None = None
        self.counters: dict[str, float] = {}
        self.shape_frames: list = []

    def build(self, fn):
        """A lazy frame built by a public call: a ``build`` span."""
        with self.tracer.span("build", "build"):
            return fn()

    def note(self, df):
        """Keep ``df`` for plan-shape counts when tracing."""
        if self.tracer.enabled:
            self.shape_frames.append(df)
        return df

    def collect(self, df) -> list:
        with self.tracer.span("execute", "execute"):
            return [list(r) for r in self.note(df).collect()]


def _compare(key: str):
    def check(ctx: Ctx, result, _pass_dir: str) -> int:
        return expect.mismatches(expect.norm_rows(result), ctx.expected[key])
    return check


def _duck_rows(sql: str) -> list:
    con = expect._duck()
    try:
        return expect.norm_rows(con.sql(sql).fetchall())
    finally:
        con.close()


@dataclass
class Workload:
    name: str
    tables: Callable[[int], inputs.TableSet]
    expected: Callable[[inputs.TableSet], dict]
    open: Callable[[Any, inputs.TableSet], dict]
    rows: Callable[[inputs.TableSet], int]
    pass_s: float  # nominal warm-pass wall on a 4-core host
    ops: list[Op]
    trace_extras: Callable[[Ctx], dict] | None = None
    # run once after the passes, untimed and outside ``correct``: an op on
    # inputs that a known library defect gets wrong; returns the wrong rows
    defect_probe: Callable[[Ctx], int] | None = None

    def warm_passes(self, seconds: float) -> int:
        """The fixed warm-pass count of a run measuring about ``seconds``
        on that host; at least two."""
        return max(2, int(seconds // self.pass_s))


# -- image_validate ------------------------------------------------------------

def _open_images(spark, ts: inputs.TableSet) -> dict:
    return {t: spark.read.parquet(ts.paths[t])
            for t in ("images", "images_ref", "dim_fmt")}


def _run_validation(ctx: Ctx, d: str):
    from schisma_spark.image.fixtures import images_schema_dsl
    from schisma_spark.runner import ValidationRun
    from schisma_spark.sources import write_table

    f = ctx.frames
    run = ValidationRun(images_schema_dsl())

    def sinks(viols, verdicts):
        ctx.gate_t = ctx.gate_t or time.perf_counter()
        with ctx.tracer.span("sinks", "call", "runner.sink"):
            write_table(viols, os.path.join(d, "violations"), fmt="parquet",
                        mode="overwrite", partition_by=["part"])
            write_table(verdicts, os.path.join(d, "verdicts"),
                        fmt="parquet", mode="overwrite")

    res = run.run_resumable(f["images"], os.path.join(d, "manifest"),
                            dims={("fmt",): (f["dim_fmt"], ("fmt",))},
                            sinks=sinks)
    return len(res.manifest_records)


def _check_validation(ctx: Ctx, n_records: int, d: str) -> int:
    e = ctx.expected
    viols = _duck_rows(
        f"SELECT image_id, part, code, \"where\" FROM read_parquet("
        f"'{d}/violations/**/*.parquet', hive_partitioning = true)")
    verd = _duck_rows(
        f"SELECT part, n_rows, n_violations, n_bad_rows, verdict "
        f"FROM read_parquet('{d}/verdicts/*.parquet')")
    ctx.counters["validate.violation_rows"] = len(viols)
    bad = expect.mismatches(viols, e["violations"])
    bad += expect.mismatches(verd, e["verdicts"])
    return bad + abs(n_records - len(e["verdicts"]))


def _run_resume(ctx: Ctx, d: str):
    from schisma_spark.image.fixtures import images_schema_dsl
    from schisma_spark.runner import ValidationRun

    res = ValidationRun(images_schema_dsl()).run_resumable(
        ctx.frames["images"], os.path.join(d, "manifest"))
    return len(res.manifest_records)


def _run_column_stats(ctx: Ctx, d: str):
    from schisma_spark.checks import column_stats

    df = ctx.build(lambda: column_stats(ctx.frames["images"],
                                        list(expect.STATS_COLS)))
    return ctx.collect(df.select("column", "n_rows", "n_null", "null_frac",
                                "min_value", "max_value"))


def _run_hll(ctx: Ctx, d: str):
    from schisma_spark.checks import hll_distinct_check

    df = ctx.build(lambda: hll_distinct_check(ctx.frames["images"], "phash"))
    return ctx.collect(df.select("n_exact", "within_tol"))


def _run_ks(ctx: Ctx, d: str):
    from schisma_spark.checks import fixed_histogram, ks_from_histograms

    h = expect.HIST

    def build():
        cur = fixed_histogram(ctx.frames["images"], "w", h["lo"], h["hi"],
                              h["nbins"])
        base = fixed_histogram(ctx.frames["images_ref"], "w", h["lo"],
                               h["hi"], h["nbins"])
        return ks_from_histograms(cur, base)

    return ctx.collect(ctx.build(build).select("ks"))


def _run_conform(ctx: Ctx, d: str):
    from schisma_spark.image.fixtures import images_schema_dsl
    from schisma_spark.sources import write_table

    df = ctx.build(lambda: images_schema_dsl().conform(ctx.frames["images"]))
    with ctx.tracer.span("execute", "execute"):
        write_table(ctx.note(df), os.path.join(d, "conformed"),
                    fmt="parquet", mode="overwrite")


def _check_conform(ctx: Ctx, _result, d: str) -> int:
    got = _duck_rows(
        f"SELECT image_id, w, h, fmt, caption, phash, part "
        f"FROM read_parquet('{d}/conformed/*.parquet')")
    return expect.mismatches(got, ctx.expected["conform"])


def _validate_extras(ctx: Ctx) -> dict:
    """The frames ``run_resumable`` builds internally and runs inside its
    sink write, run again apart, each in the layer it belongs to: the
    row-level violations (validate), the uniqueness and FK violations
    (checks), each written to Spark's ``noop`` sink. Their stage counters
    are added to ``validate.*`` and ``checks.*`` (the sink write that runs
    them in a pass stays in ``runner.sink_s``), and the plan shapes of the
    violation and verdict frames to the compiler counts."""
    from schisma_spark.checks import fk_violations, uniqueness_violations
    from schisma_spark.image.fixtures import images_schema_dsl
    from schisma_spark.runner import ValidationRun

    from perfbench.trace import plan_shape

    img, dims = ctx.frames["images"], ctx.frames["dim_fmt"]
    run = ValidationRun(images_schema_dsl())
    ident = [*run.config.keys, run.config.part_col]
    frames = [("row_pass", "validate", run.row_pass(img).violations)]
    frames += [(f"uniqueness_{'_'.join(k)}", "checks",
                uniqueness_violations(img, list(k), keys=ident))
               for k in run.config.unique_on]
    frames.append(("fk_fmt", "checks",
                   fk_violations(img, dims, ["fmt"], ["fmt"], keys=ident)))
    tr = ctx.tracer
    first = len(tr.spans)
    for name, layer, df in frames:
        with tr.span(name, "execute", layer):
            df.write.format("noop").mode("overwrite").save()
    tr.collect_stages(tr.spans[first:])

    def stages(layer):
        return [st for sp in tr.spans[first:] if sp.layer == layer
                for st in sp.stages if not st["skipped"]]

    shapes = [plan_shape(run.violations(img, {("fmt",): (dims, ("fmt",))})),
              plan_shape(run.verdicts(img))]
    return {
        "validate.exec_s": sum(st["run_s"] for st in stages("validate")),
        "validate.cpu_s": sum(st["cpu_s"] for st in stages("validate")),
        "checks.exec_s": sum(st["run_s"] for st in stages("checks")),
        "checks.jobs": len({st["job"] for st in stages("checks")}),
        "checks.shuffle_bytes": sum(st["shuffle_write_bytes"]
                                    for st in stages("checks")),
        "compiler.hof_nodes": sum(s["hof_nodes"] for s in shapes),
        "compiler.wscg_spans": sum(s["wscg_spans"] for s in shapes),
    }


IMAGE_VALIDATE = Workload(
    name="image_validate",
    tables=inputs.images,
    expected=expect.image_validate,
    open=_open_images,
    rows=lambda ts: ts.meta["rows"]["images"],
    pass_s=6.5,
    ops=[
        Op("run_resumable", "validate", _run_validation, _check_validation,
           gate=True),
        Op("column_stats", "checks", _run_column_stats,
           _compare("column_stats")),
        Op("hll_distinct_check", "checks", _run_hll, _compare("hll_distinct")),
        Op("histogram_ks", "checks", _run_ks, _compare("ks")),
        Op("resume", "runner", _run_resume,
           lambda ctx, n_records, d: n_records),  # must write none
        Op("conform_write", "conform", _run_conform, _check_conform),
    ],
    trace_extras=_validate_extras,
)


# -- payload ----------------------------------------------------------------------

def _run_decode(table: str):
    def run(ctx: Ctx, d: str):
        from schisma_spark.image.decode import decode_validate

        df = ctx.build(lambda: decode_validate(ctx.frames[table])
                       .select(*expect.DECODE_COLS))
        return ctx.collect(df)
    return run


def _run_captions(ctx: Ctx, d: str):
    from schisma_spark.image.decode import caption_violations

    f = ctx.frames
    return ctx.collect(ctx.build(
        lambda: caption_violations(f["images"], f["images_ref"])))


def _open_payload(spark, ts: inputs.TableSet) -> dict:
    return {t: spark.read.parquet(ts.paths[t])
            for t in ("images", "images_ref", "images_large", "images_defect",
                      "documents", "embeddings", "events")}


def _psnr_wrap_probe(ctx: Ctx) -> dict:
    """``decode_validate`` on the wrong-pixel 256 and 384 px images: the
    rows whose expected decode columns do not come back. The library's PSNR
    sums squared differences in int32, which wraps at these sizes, so every
    row is wrong until that is fixed."""
    got, error = [], None
    try:
        got = expect.norm_rows(_run_decode("images_defect")(ctx, ""))
    except Exception as e:  # nothing came back: every row is wrong
        error = repr(e)
    want = ctx.expected["decode_defect"]
    wrong = Counter(map(repr, want)) - Counter(map(repr, got))
    return {"wrong_rows": sum(wrong.values()), "error": error}


def _planted_docs(ctx: Ctx):
    """Documents with the ``curation_keep_list`` twin's plants (id % 31 too
    short, id % 37 an exact duplicate text, id % 41 NULL text), the input of
    the traced run's minhash pair counts."""
    from pyspark.sql import functions as F

    from schisma_spark.sources import fan_out

    did = F.col("doc_id")
    return fan_out(ctx.frames["documents"].select(
        "doc_id",
        F.when(did % 31 == 0, F.lit("too short"))
        .when(did % 37 == 0,
              F.lit("the exact same duplicated document text appears "
                    "here twice in the corpus for the dedup gate"))
        .when(did % 41 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text")).alias("text")))


def _run_simhash(ctx: Ctx, d: str):
    from pyspark.sql import functions as F

    from schisma_spark.functions.dedup import simhash64_near_dups
    from schisma_spark.sources import fan_out

    def build():
        docs = fan_out(ctx.frames["documents"].select("doc_id", "text"))
        copies = docs.where(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text")
        return simhash64_near_dups(docs.unionByName(copies), "text",
                                   "doc_id", max_hamming=3).select(
            "id_a", "id_b", F.col("hamming").cast("int"))

    return ctx.collect(ctx.build(build))


def _planted_embeddings(ctx: Ctx):
    """See :func:`perfbench.expect.planted_embeddings`."""
    from pyspark.sql import functions as F

    from schisma_spark.sources import fan_out

    emb = fan_out(ctx.frames["embeddings"].select("vec_id", "embedding"))
    aug = emb.unionByName(emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"))
    vec_t = aug.schema["embedding"].dataType
    elem_t = vec_t.elementType.simpleString()
    vid = F.col("vec_id")
    return aug.select(
        "vec_id",
        F.when(vid % 97 == 0, F.lit(None).cast(vec_t))
        .when(vid % 89 == 0, F.transform(
            F.col("embedding"), lambda x: F.lit(float("nan")).cast(elem_t)))
        .when(vid % 83 == 0, F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, F.lit(None).cast(elem_t))
            .otherwise(x)))
        .otherwise(F.col("embedding")).alias("embedding"))


def _run_cosine(ctx: Ctx, d: str):
    """Cosine-LSH near-duplicate pairs over the vectors that pass the
    failed-encoder gate (the planted NULL and NaN vectors do not)."""
    from pyspark.sql import functions as F

    from schisma_spark.functions.similarity import (
        cosine_near_dups, valid_vector,
    )

    def build():
        emb = _planted_embeddings(ctx)
        return cosine_near_dups(emb.where(valid_vector(F.col("embedding"))),
                                "vec_id", "embedding", inputs.DIM,
                                threshold=0.99, n_tables=8, n_planes=6)

    return ctx.collect(ctx.build(build))


def _payload_extras(ctx: Ctx) -> dict:
    """LSH work counters: candidate pairs from the banded joins against the
    pairs that survive verification."""
    from pyspark.sql import functions as F

    from schisma_spark.functions.dedup import (
        minhash_candidate_pairs, minhash_near_dups,
    )
    from schisma_spark.functions.similarity import (
        hyperplane_signatures, valid_vector,
    )

    tr = ctx.tracer
    docs = _planted_docs(ctx)
    with tr.span("minhash_candidate_pairs", "probe", "probe"):
        cands = minhash_candidate_pairs(docs, "text", "doc_id", n_hashes=16,
                                        bands=4, skip_empty=True).count()
        verified = minhash_near_dups(docs, "text", "doc_id", threshold=0.2,
                                     n_hashes=16, bands=4).count()
    emb = _planted_embeddings(ctx).where(valid_vector(F.col("embedding")))
    sigs = hyperplane_signatures(F.col("embedding"), inputs.DIM, 6,
                                 [f"t{t}" for t in range(8)])
    banded = emb.select(F.col("vec_id").alias("_id"),
                        F.posexplode(sigs).alias("table_id", "bucket"))
    with tr.span("hyperplane_candidate_pairs", "probe", "probe"):
        sim_cands = (
            banded.withColumnRenamed("_id", "id_a")
            .join(banded.withColumnRenamed("_id", "id_b"),
                  ["table_id", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct().count())
    return {"dedup.candidate_pairs": cands,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / cands if cands else 0.0,
            "similarity.candidate_pairs": sim_cands}


def _run_variant(ctx: Ctx, d: str):
    """Plants of the ``validate_variant_events`` twin: id % 7 a string k,
    id % 11 no k, id % 13 a JSON null k."""
    from pyspark.sql import functions as F

    from schisma_spark import Field, Null, schema
    from schisma_spark.sources import fan_out
    from schisma_spark.variant_validate import validate_variant

    def build():
        eid = F.col("event_id")
        ev = fan_out(ctx.frames["events"].select(
            "event_id",
            F.when(eid % 7 == 0, F.lit('{"k": "bad"}'))
            .when(eid % 11 == 0, F.lit("{}"))
            .when(eid % 13 == 0, F.lit('{"k": null}'))
            .otherwise(F.col("props")).alias("payload")))
        sch = schema({"k": Field(typeof=[float, Null])})
        res = validate_variant(ev, "payload", sch, keys=["event_id"])
        return res.violations.select("event_id", "code", "where")

    return ctx.collect(ctx.build(build))


def _run_conform_json(ctx: Ctx, d: str):
    """Plants of the ``conform_json_events`` twin (nested repair, uncastable
    value with a junk key, malformed JSON, missing key, a kept regex key and
    a JSON null)."""
    from pyspark.sql import functions as F

    from schisma_spark import Field, schema
    from schisma_spark.json_validate import conform_json
    from schisma_spark.sources import fan_out

    def build():
        eid = F.col("event_id")
        ev = fan_out(ctx.frames["events"].select(
            "event_id",
            F.when(eid % 17 == 0,
                   F.lit('{"k":3,"nested":{"a":"5","junk":true}}'))
            .when(eid % 9 == 0, F.lit('{"k": "bad", "zz": 1}'))
            .when(eid % 7 == 0, F.lit('{broken'))
            .when(eid % 11 == 0, F.lit('{}'))
            .when(eid % 13 == 0, F.lit('{"k": 2, "x_a": "qq"}'))
            .when(eid % 19 == 0, F.lit('{"k": null}'))
            .otherwise(F.col("props")).alias("props")))
        sch = schema({
            "k": Field(type=float, default=-1.0),
            "nested": Field(typeof=[{"a": float,
                                     "b": Field(type=str, default="x")}],
                            required=False),
            "$/^x_": [str],
        })
        return conform_json(ev, "props", sch).select("event_id", "props")

    return ctx.collect(ctx.build(build))


def _run_recursive(ctx: Ctx, d: str):
    """The ``recursive_validate`` twin's documents: a numeric name at depth
    1 whenever the payload's k is divisible by 3."""
    from pyspark.sql import functions as F

    from schisma_spark.recursive_validate import validate_json_recursive
    from schisma_spark.sources import fan_out

    k = F.from_json(F.col("props"), "map<string,bigint>")["k"]
    doc = F.format_string(
        '{"name":"n","children":[{"name":%s}]}',
        F.when(k % 3 == 0, k.cast("string")).otherwise(F.lit('"c"')))
    out = validate_json_recursive(
        fan_out(ctx.frames["events"].select("event_id", doc.alias("doc"))),
        "doc", {"name": str}, keys=["event_id"])
    return ctx.collect(out.select("event_id", "code", "where"))


PAYLOAD = Workload(
    name="payload",
    tables=inputs.payload,
    expected=expect.payload,
    open=_open_payload,
    rows=lambda ts: sum(ts.meta["rows"][t] for t in (
        "images", "images_large", "documents", "embeddings", "events")),
    pass_s=8.5,
    ops=[
        Op("decode_small", "image", _run_decode("images"),
           _compare("decode_small")),
        Op("decode_large", "image", _run_decode("images_large"),
           _compare("decode_large")),
        Op("caption_violations", "image", _run_captions, _compare("caption"),
           gate=True),
        Op("simhash64_near_dups", "dedup", _run_simhash,
           _compare("simhash64_near_dups")),
        Op("cosine_near_dups", "similarity", _run_cosine,
           _compare("cosine_near_dups")),
        Op("validate_variant", "semistructured", _run_variant,
           _compare("validate_variant")),
        Op("conform_json", "semistructured", _run_conform_json,
           _compare("conform_json")),
        Op("validate_json_recursive", "recursive", _run_recursive,
           _compare("validate_json_recursive")),
    ],
    trace_extras=_payload_extras,
    defect_probe=_psnr_wrap_probe,
)

WORKLOADS = {w.name: w for w in (IMAGE_VALIDATE, PAYLOAD)}

