"""SparkSession factory with the engine's scale-oriented defaults.

Sized for the sandbox (local[N], 128 GiB) but every knob is the one you'd
set on a real 1000-executor cluster too: AQE with skew-join splitting
(BASELINE.json:14), partial-aggregation pushdown, capped Arrow batches for
fat binary rows (SURVEY §4.3.5), and shuffle partitions scaled to cores.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import threading
import zipfile
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

#: Driver-side conf every session of this engine starts with, ``build_session``
#: and the ``jobs/`` spark-submit entry points alike. PySpark 4 wraps every
#: ``Column``/``functions`` call to capture its Python call site for error
#: messages: a stack walk plus about five py4j round trips per call, which
#: makes compiling a validation plan two to three times slower (images
#: schema at local[4], 4-core host: 480 ms with it, 195-260 ms without).
#: The flag is a STATIC conf (fixed when the
#: session starts) and PySpark reads it once per process, at the first
#: Column it builds, so it only takes effect on a session created with it.
#: Error messages then lose the Python call site; get it back with
#: ``build_session(extra={KEY: "true"})`` or ``spark-submit --conf KEY=true``.
DRIVER_CONF = {"spark.python.sql.dataFrameDebugging.enabled": "false"}


#: Entries the compiled-Column memo keeps (least recently used dropped first).
COLUMN_MEMO_SIZE = 256

_memo_lock = threading.Lock()
_memo: OrderedDict = OrderedDict()
_memo_gateway = None  # the py4j gateway (JVM) the entries were built on


def cached_column(key, build):
    """``build()`` — a Column or a tuple/dict of Columns, never a
    DataFrame — built once per JVM for the hashable ``key`` and returned
    from a bounded, thread-safe LRU memo afterwards.

    Compiled Columns are name-bound (``F.col(k)``, lambda variables), so
    one serves every frame with those names, and building one costs a py4j
    round trip per Column call: a warm ``validate_variant`` rebuilt ~1,300
    of them per call. ``key`` must hold everything the build reads: the
    schema's :func:`~schisma_spark.dsl.fingerprint`, options, column names
    and, for relational compiles, the input's types. The store belongs to
    the py4j gateway it was filled on, so a new JVM starts empty; without
    a gateway (no classic SparkContext yet) or with an unhashable key
    nothing is cached."""
    global _memo_gateway
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        hash(key)
    except TypeError:  # e.g. a $validate callable object without __hash__
        gateway = None
    if gateway is not None:
        with _memo_lock:
            if _memo_gateway is not gateway:
                _memo.clear()
                _memo_gateway = gateway
            if key in _memo:
                _memo.move_to_end(key)
                return _memo[key]
    out = build()
    if isinstance(out, DataFrame):
        raise TypeError("cached_column holds Columns, never DataFrames")
    if gateway is not None:
        with _memo_lock:
            if _memo_gateway is gateway:
                out = _memo.setdefault(key, out)
                _memo.move_to_end(key)
                while len(_memo) > COLUMN_MEMO_SIZE:
                    _memo.popitem(last=False)
    return out


_zip_guard = False


def worker_init() -> None:
    """Call first in every Python mapper or UDF body: once per worker
    process, on CPython < 3.13, makes ``zipimporter.invalidate_caches``
    re-read an archive's central directory only when its
    ``(st_mtime_ns, st_size)`` changed.

    PySpark's worker runs ``importlib.invalidate_caches()`` at the start of
    EVERY task, and 3.11/3.12 zip importers re-read their whole directory
    there (3.13 made it lazy): a reused worker with ``pyspark.zip``, the
    py4j zip, a jar and the package zip on ``sys.path`` parsed ~25,000
    entries per task, 0.2-0.3 s of CPU whatever the task computed. A zip
    shipped again with ``addPyFile`` still changes its stamp and is
    re-read, so new modules stay importable."""
    global _zip_guard
    if _zip_guard:
        return
    _zip_guard = True
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp \
                and files is not None:
            self._files = files  # as last read by any of its importers
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def package_zip() -> str:
    """Zip the schisma_spark package for --py-files shipping (the
    north-rule deployment mode); lets executor Python workers import the
    package regardless of driver cwd. Rebuilt whenever ANY package source
    is newer than the cached zip — an existence-only cache shipped a
    stale zip that predated newer modules (r5: a spark-submit run of the
    curation job failed importing functions.curate from a zip built
    before that module existed). The zip name is keyed on the package
    directory, so each checkout on a host ships its own sources: with one
    shared name, a checkout whose files were older than another
    checkout's zip shipped that zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    key = hashlib.sha1(pkg_dir.encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(),
                       f"schisma_spark_pyfiles_{key}.zip")

    def _stale() -> bool:
        if not os.path.exists(out):
            return True
        zt = os.path.getmtime(out)
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py") and \
                        os.path.getmtime(os.path.join(root, f)) > zt:
                    return True
        return False

    if _stale():
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "schisma_spark",
                            os.path.relpath(full, pkg_dir),
                        )
                        z.write(full, rel)
        os.replace(tmp, out)
    return out


def build_session(
    app: str = "schisma-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    n_threads = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else cpus
    shuffle_partitions = shuffle_partitions or max(2 * n_threads, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(arrow_batch_rows),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.submit.pyFiles", package_zip())
        .config(map=DRIVER_CONF)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s


def attach_session() -> SparkSession:
    """The session a spark-submit entry point runs on: attaches to (or
    creates) the session spark-submit configured, adding each
    :data:`DRIVER_CONF` entry the submit did not set itself."""
    from pyspark import SparkConf

    submitted = SparkConf()  # spark-submit's --conf values
    b = SparkSession.builder
    for k, v in DRIVER_CONF.items():
        if not submitted.contains(k):
            b = b.config(k, v)
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s
