"""Tracing from outside the library: spans, Spark stage metrics per job
group, plan-shape counts and process-tree memory/CPU.

Every span that names a layer runs its Spark jobs in a job group of its own.
After a pass, the stages of each group are read from the status store
(``statusStore().lastStageAttempt``), so each layer's executor time, CPU,
input/shuffle/output bytes, spill, GC and task counts come from Spark's own
counters. A few library functions that a public op calls internally are
wrapped for the traced run only (:meth:`Tracer.wrap`); the library's code is
not changed.
"""

from __future__ import annotations

import itertools
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PY_STAGE = re.compile(r"Pandas|Arrow|Python")
_CLK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    kind: str  # workload | pass | op | build | execute | call | probe
    start: float
    parent: int | None
    epoch: float = 0.0   # time.time() at start, to line up with stage times
    layer: str | None = None
    group: str | None = None
    end: float = 0.0
    stages: list = field(default_factory=list)
    python_cpu_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. ``enabled=False`` keeps only the timing a pass needs
    and touches no Spark state, which is how end-to-end runs measure."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, kind: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, kind, time.perf_counter(), parent,
                  epoch=time.time(), layer=layer)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        grouped = self.enabled and layer
        if grouped:
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sp.group = f"{layer}#{next(self._ids)}"
            sc.setJobGroup(sp.group, name, False)
            cpu0 = python_worker_cpu()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if grouped:
                sp.python_cpu_s = python_worker_cpu() - cpu0
                sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, module, attr: str, layer: str | None, kind: str = "call"):
        """Route ``module.attr`` through a span for the rest of the run."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(f"{module.__name__}.{attr}", kind, layer):
                return fn(*a, **kw)

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unwrap(self):
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def collect_stages(self, spans: list[Span]):
        """Attach stage metrics to every span that ran in a job group."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for sp in spans:
            if not sp.group:
                continue
            for job in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job)
                for sid in (info.stageIds if info else []):
                    sp.stages.append(_stage_metrics(store, sid, job))

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [{
            "id": i, "name": s.name, "kind": s.kind, "parent": s.parent,
            "layer": s.layer, "start_s": s.start - t0, "end_s": s.end - t0,
            "stages": s.stages, "python_cpu_s": s.python_cpu_s,
        } for i, s in enumerate(self.spans)]


def _stage_metrics(store, sid: int, job: int) -> dict:
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.lastStageAttempt(sid)
    except Py4JJavaError:  # NoSuchElementException: the stage never ran
        return {"stage": sid, "job": job, "skipped": True}
    graph = store.operationGraphForStage(sid).rootCluster()
    names = []
    todo = [graph]
    while todo:
        c = todo.pop()
        names.append(c.name())
        it = c.childClusters().iterator()
        while it.hasNext():
            todo.append(it.next())
    sub, done = sd.submissionTime(), sd.completionTime()
    return {
        "stage": sid, "job": job, "skipped": False,
        "tasks": sd.numTasks(),
        "run_s": sd.executorRunTime() / 1e3,
        "cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1e3,
        "input_bytes": sd.inputBytes(),
        "output_bytes": sd.outputBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        "python": any(_PY_STAGE.search(n) for n in names),
        "t0": sub.get().getTime() / 1e3 if sub.isDefined() else None,
        "t1": done.get().getTime() / 1e3 if done.isDefined() else None,
    }


def covered_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- plan shape ----------------------------------------------------------------

def plan_shape(df) -> dict:
    """Whole-stage-codegen spans and interpreted higher-order-function
    nodes of ``df``'s physical plan, planned with AQE off so the plan is
    final without running it."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        # a fresh Dataset: the frame's own plan was fixed when it ran
        plan = df.select("*")._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    return {"wscg_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
            "hof_nodes": plan.count("lambdafunction(")}


# -- process tree: memory and Python-worker CPU -------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    """Every process started under this one (children, grandchildren...)."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def python_worker_cpu() -> float:
    """User+system CPU seconds of the Python worker processes under this
    process (reaped workers included through their parent's counters)."""
    total = 0.0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark" not in cmd:
                continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / _CLK
    return total


class RssSampler:
    """Samples the summed RSS of every process under this one (the driver
    JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pids: list[int] = []
        for tick in itertools.count():
            if tick % 20 == 0:  # a /proc walk costs far more than a sample
                pids = descendants()
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
