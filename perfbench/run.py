#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload image_validate --seed 1 \\
        --seconds 10 --trace 0

One client process issues the workload's ops one after another (a closed
loop) on ``local[<cores>]``. A run makes its seeded inputs (cached under
``.perfbench/cache``), computes the independent expected outputs (cached
too), starts the JVM and the Spark session once, runs one cold pass and then
a fixed number of warm passes, and checks every op's output after its pass.
``--seconds`` sets that number: it is divided by the workload's nominal
warm-pass wall on a 4-core host, so every run of a workload measures the
same work however fast the host is. Human-readable results go to standard
error; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
traced run interleaves untraced and traced warm passes, so it also reports
the tracing overhead. Spans and the full report go to ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench.inputs import STATE  # noqa: E402

CONTROL_ROWS = 20_000_000


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def _isolate():
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    tempfile.tempdir = None


def _session(cores: int):
    from schisma_spark.session import build_session

    tmp = os.environ["TMPDIR"]
    return build_session(
        app="perfbench", master=f"local[{cores}]",
        extra={"spark.driver.extraJavaOptions":
               f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
               "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"]})


def _stop_jvm():
    """End the gateway JVM and the Python workers under it, and wait until
    every one has exited; ``spark.stop()`` leaves the JVM running for a next
    session."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    started = descendants()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in started if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _control_probe(spark) -> float:
    """A fixed pure-CPU plan (range -> xxhash64 -> sum; no disk, shuffle or
    Python) timed after the passes: a reading of host contention, never
    folded into a metric."""
    from pyspark.sql import functions as F

    def job():
        (spark.range(0, CONTROL_ROWS, 1, 8)
         .select(F.shiftright(F.xxhash64("id"), 24).alias("h"))
         .agg(F.sum("h")).collect())

    job()
    t0 = time.perf_counter()
    job()
    return time.perf_counter() - t0


class Runner:
    """Runs passes of one workload and keeps per-op correctness counts."""

    def __init__(self, workload, ctx, pass_root: str):
        self.w = workload
        self.ctx = ctx
        self.pass_root = pass_root
        self.op_stats = {op.name: {"attempted": 0, "failed": 0,
                                   "mismatched_rows": 0, "errors": []}
                         for op in workload.ops}
        self.passes: list[dict] = []

    def run_pass(self, traced: bool) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        k = len(self.passes)
        # a pass's outputs stay until the run ends: deleting them between
        # passes would put file-system work into the next pass
        d = os.path.join(self.pass_root, f"p{k}")
        os.makedirs(d, exist_ok=True)
        tr.enabled = traced
        ctx.gate_t = None
        results, op_walls = {}, {}
        with tr.span(f"pass{k}", "pass") as ps:
            for op in self.w.ops:
                with tr.span(op.name, "op", op.layer) as sp:
                    try:
                        results[op.name] = (True, op.run(ctx, d))
                    except Exception:  # an op that raises is a failed op
                        results[op.name] = (False, traceback.format_exc())
                op_walls[op.name] = sp.wall
                if op.gate and ctx.gate_t is None:
                    ctx.gate_t = sp.end
        tr.enabled = False
        gate = ctx.gate_t if ctx.gate_t is not None else ps.end
        rec = {"index": k, "traced": traced, "wall_s": ps.wall,
               "verdict_s": gate - ps.start, "span": ps,
               "ops": {}}
        for op in self.w.ops:
            ok, out = results[op.name]
            st = self.op_stats[op.name]
            st["attempted"] += 1
            if ok:
                try:
                    bad = op.check(ctx, out, d)
                except Exception:
                    ok, out = False, traceback.format_exc()
            if not ok:
                st["failed"] += 1
                st["errors"] = (st["errors"] + [out.splitlines()[-1]])[-3:]
            elif bad:
                st["failed"] += 1
                st["mismatched_rows"] = bad
            rec["ops"][op.name] = {"ok": ok and not bad,
                                   "wall_s": op_walls[op.name]}
        self.passes.append(rec)
        return rec


def _layer_metrics(tracer, pass_span_index: int, rows: int,
                   counters: dict) -> dict:
    """Per-layer metrics of one traced pass from its spans and stages."""
    from perfbench.trace import covered_seconds

    spans = tracer.spans
    kids = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids[s.parent].append(i)

    def subtree(i):
        out, todo = [], [i]
        while todo:
            j = todo.pop()
            out.append(j)
            todo.extend(kids[j])
        return out

    in_pass = subtree(pass_span_index)
    seen: set[int] = set()
    by_layer = defaultdict(list)
    for i in in_pass:
        for st in spans[i].stages:
            if st["skipped"] or st["stage"] in seen:
                continue
            seen.add(st["stage"])
            by_layer[spans[i].layer].append(st)
    every = [st for sts in by_layer.values() for st in sts]

    def stages(*layers):
        return [st for layer in layers for st in by_layer.get(layer, [])]

    def total(key, sts):
        return float(sum(st[key] for st in sts))

    def jobs(sts):
        return float(len({st["job"] for st in sts}))

    def walls(kind=None, layer=None):
        return float(sum(spans[i].wall for i in in_pass
                         if (kind is None or spans[i].kind == kind)
                         and (layer is None or spans[i].layer == layer)))

    def top_builds():
        out = 0.0
        for i in in_pass:
            s = spans[i]
            p = s.parent
            nested = False
            while p is not None:
                nested = nested or spans[p].kind == "build"
                p = spans[p].parent
            if s.kind == "build" and not nested:
                out += s.wall
        return out

    wait = 0.0
    for i in in_pass:
        s = spans[i]
        if s.kind != "op":
            continue
        lo, hi = s.epoch, s.epoch + s.wall
        iv = [(max(st["t0"], lo), min(st["t1"], hi))
              for j in subtree(i) for st in spans[j].stages
              if not st["skipped"] and st["t0"] and st["t1"]]
        wait += s.wall - covered_seconds([v for v in iv if v[1] > v[0]])

    conform_wall = walls("op", "conform")
    semi = stages("semistructured", "recursive")
    return {
        "compiler.build_s": top_builds(),
        "validate.exec_s": total("run_s", stages("validate")),
        "validate.cpu_s": total("cpu_s", stages("validate")),
        "validate.violation_rows": float(
            counters.get("validate.violation_rows", 0)),
        "checks.exec_s": total("run_s", stages("checks")),
        "checks.jobs": jobs(stages("checks")),
        "checks.shuffle_bytes": total("shuffle_write_bytes", stages("checks")),
        "runner.sink_s": walls(layer="runner.sink"),
        "runner.resume_s": walls("op", "runner"),
        "manifest.plan_s": walls(layer="manifest.plan"),
        "sources.bytes_written": total("output_bytes", stages("runner.sink")),
        "scan.input_bytes": total("input_bytes", every),
        "conform.exec_s": total("run_s", stages("conform")),
        "conform.bytes_written": total("output_bytes", stages("conform")),
        "conform.rows_per_s": rows / conform_wall if conform_wall else 0.0,
        "image.exec_s": total("run_s", stages("image")),
        "image.python_s": total("run_s", [st for st in stages("image")
                                          if st["python"]]),
        "image.python_cpu_s": sum(spans[i].python_cpu_s for i in in_pass
                                  if spans[i].layer == "image"),
        "image.tasks": total("tasks", stages("image")),
        "dedup.exec_s": total("run_s", stages("dedup")),
        "dedup.jobs": jobs(stages("dedup")),
        "dedup.shuffle_bytes": total("shuffle_write_bytes", stages("dedup")),
        "similarity.exec_s": total("run_s", stages("similarity")),
        "semistructured.exec_s": total("run_s", semi),
        "semistructured.cpu_s": total("cpu_s", semi),
        "recursive.jobs": jobs(stages("recursive")),
        "spark.jobs": jobs(every),
        "spark.tasks": total("tasks", every),
        "spark.driver_wait_s": wait,
        "spark.gc_s": total("gc_s", every),
        "spark.spill_bytes": total("spill_bytes", every),
    }


def _traced_pass(runner: Runner, wraps: list, rows: int) -> dict:
    """One pass with job groups and the internal-call wraps on; returns its
    per-layer metrics."""
    from perfbench.trace import plan_shape

    ctx, tr = runner.ctx, runner.ctx.tracer
    for mod, attr, layer, kind in wraps:
        tr.wrap(mod, attr, layer, kind)
    ctx.shape_frames = []
    first = len(tr.spans)
    try:
        runner.run_pass(traced=True)
    finally:
        tr.unwrap()
    tr.collect_stages(tr.spans[first:])
    m = _layer_metrics(tr, first, rows, ctx.counters)
    shapes = [plan_shape(df) for df in ctx.shape_frames]
    m["compiler.hof_nodes"] = float(sum(s["hof_nodes"] for s in shapes))
    m["compiler.wscg_spans"] = float(sum(s["wscg_spans"] for s in shapes))
    return m


TRACE_WRAPS = (
    # (module, attribute, layer, span kind): library calls a public op makes
    # internally, routed through spans in traced passes only
    ("schisma_spark.manifest", "plan_remaining", "manifest.plan", "call"),
    ("schisma_spark.runner", "validate", None, "build"),
    ("schisma_spark.runner", "uniqueness_violations", None, "build"),
    ("schisma_spark.runner", "fk_violations", None, "build"),
)


def run(args) -> int:
    _isolate()
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
        import schisma_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the library under test is not importable: {e}",
              file=sys.stderr)
        return 2
    import importlib

    from perfbench import workloads
    from perfbench.trace import RssSampler, Tracer

    w = workloads.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    tables = w.tables(args.seed)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    expected = w.expected(tables)
    expect_s = time.perf_counter() - t0
    rows = w.rows(tables)
    cores = len(os.sched_getaffinity(0))
    run_id = f"{w.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    pass_root = os.path.join(STATE, "work", run_id)
    n_warm = w.warm_passes(args.seconds)
    if args.trace:
        # a settling pass, then at least one traced and one untraced pass
        n_warm = max(n_warm, 3)

    spark = None
    # the sampler's thread shares the driver's GIL, so it runs only when
    # its figure is reported
    with RssSampler() if args.trace else contextlib.nullcontext() as rss:
        try:
            # from a fresh process: JVM launch, session and inputs opened
            t0 = time.perf_counter()
            spark = _session(cores)
            frames = w.open(spark, tables)
            setup_s = time.perf_counter() - t0
            ctx = workloads.Ctx(frames, expected, Tracer(spark, False))
            runner = Runner(w, ctx, pass_root)
            with ctx.tracer.span(w.name, "workload"):
                cold = runner.run_pass(traced=False)
                wraps = [(importlib.import_module(m), a, layer, kind)
                         for m, a, layer, kind in TRACE_WRAPS]
                layer_rows = []
                # a traced run alternates traced and untraced passes after
                # the first warm one, each untraced pass a little warmer
                # than the traced one before it, so the overhead ratio errs
                # high
                for k in range(1, n_warm + 1):
                    if args.trace and k % 2 == 0:
                        layer_rows.append(_traced_pass(runner, wraps, rows))
                    else:
                        runner.run_pass(traced=False)
                extras = {}
                if args.trace and w.trace_extras:
                    ctx.tracer.enabled = True
                    extras = w.trace_extras(ctx)
                    ctx.tracer.enabled = False
            # reported beside the result, never in ``correct`` or ``failed``
            defect = w.defect_probe(ctx) if w.defect_probe else None
            control_s = _control_probe(spark)
        finally:
            if spark is not None:
                spark.stop()
            _stop_jvm()
            shutil.rmtree(pass_root, ignore_errors=True)

    median = statistics.median
    warm = [p for p in runner.passes[1:] if not p["traced"]]
    traced_passes = [p for p in runner.passes[1:] if p["traced"]]
    for name, st in runner.op_stats.items():
        walls = [p["ops"][name]["wall_s"] for p in warm]
        st.update(warm_n=len(walls), warm_p50_s=median(walls),
                  warm_max_s=max(walls))
    attempted = sum(s["attempted"] for s in runner.op_stats.values())
    failed = sum(s["failed"] for s in runner.op_stats.values())
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": rows / median(p["wall_s"] for p in warm),
    }
    verdict_s = median(p["verdict_s"] for p in warm)
    if args.trace:
        metrics = {k: median(m[k] for m in layer_rows) for k in layer_rows[0]}
        for k, v in extras.items():  # measured once, outside the passes
            metrics[k] = metrics.get(k, 0.0) + float(v)
        metrics["cold_pass_s"] = cold["wall_s"]
        metrics["peak_rss_mb"] = rss.peak / 2**20
        metrics["verdict_s"] = verdict_s
        if defect is not None:
            metrics["image.psnr_wrong_rows"] = defect["wrong_rows"]
        metrics["trace.overhead_ratio"] = (
            median(p["wall_s"] for p in traced_passes)
            / median(p["wall_s"] for p in warm if p["index"] >= 2))
    else:
        metrics = e2e
    units = declared_metrics(bool(args.trace))
    undeclared = set(metrics) - set(units)
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {undeclared}")
    # a layer that does not run in this workload reads 0
    metrics = {k: float(metrics.get(k, 0.0)) for k in units}

    report = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "cores": cores, "input_rows": rows,
        "inputs": {"gen_s": gen_s, "cache_hit": tables.meta["cache_hit"],
                   "generated_in_s": tables.meta["gen_s"],
                   "digest": tables.meta["digest"],
                   "rows": tables.meta["rows"]},
        "expect_s": expect_s,
        "setup_s": setup_s,
        "warm_passes": n_warm,
        "passes": [{k: v for k, v in p.items() if k != "span"}
                   for p in runner.passes],
        "ops": runner.op_stats,
        "failed_ops_frac": failed / attempted,
        "known_defect": defect,
        "control_probe_s": control_s,
        "cold_pass_s": cold["wall_s"],
        "verdict_s": verdict_s,
        "end_to_end": e2e,
    }
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    with open(os.path.join(STATE, "runs", f"{run_id}.json"), "w") as f:
        json.dump({**report, "metrics": metrics,
                   "spans": ctx.tracer.to_json() if args.trace else []}, f)
    _print_human(report, metrics, units)
    print(json.dumps({k: v for k, v in report.items() if k != "passes"}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def _print_human(report: dict, metrics: dict, units: dict):
    err = sys.stderr
    print(f"workload {report['workload']} seed {report['seed']} "
          f"trace {report['trace']} on {report['cores']} cores, "
          f"{report['input_rows']} input rows", file=err)
    inp = report["inputs"]
    print(f"  inputs: {'cached' if inp['cache_hit'] else 'generated'} "
          f"({inp['generated_in_s']:.2f} s to generate), expected outputs "
          f"{report['expect_s']:.2f} s, control probe "
          f"{report['control_probe_s']:.3f} s", file=err)
    for name, st in report["ops"].items():
        status = "ok" if not st["failed"] else (
            f"FAILED {st['failed']}/{st['attempted']}"
            + (f", {st['mismatched_rows']} rows differ"
               if st["mismatched_rows"] else "")
            + (f", {st['errors'][-1]}" if st["errors"] else ""))
        print(f"  op {name:<24} {st['attempted']:>3} calls  {status}",
              file=err)
    print(f"  failed_ops_frac {report['failed_ops_frac']:.4f} ratio", file=err)
    if report["known_defect"] is not None:
        d = report["known_defect"]
        print(f"  known defect (int32 PSNR wrap, not in failed_ops_frac): "
              f"{d['wrong_rows']} wrong-pixel large image rows wrong"
              + (f", {d['error']}" if d["error"] else ""), file=err)
    for k, v in metrics.items():
        print(f"  {k:<28} {v:>16.6f} {units[k]}", file=err)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["image_validate", "payload"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
