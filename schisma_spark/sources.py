"""Source/sink seam (SURVEY §2.B E1/E2).

The design target is an Iceberg table (BASELINE.json input_hint); this
sandbox ships no iceberg-spark-runtime jar, so the seam defaults to Parquet
and switches to Iceberg when a catalog is configured. All engine code goes
through ``read_table``/``write_table`` so the swap is one config, not a
refactor.

To enable the Iceberg branch on a real cluster (Spark 4.1 / Scala 2.13):

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hive   # or hadoop/rest + warehouse

then pass catalog table names (``lake.db.images``) as ``ref``. The branch
itself is covered by dispatch-level tests with a stubbed reader/writer
(tests/test_sources.py) since the jar cannot be installed here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def _has_iceberg(spark: SparkSession) -> bool:
    # NB: attribute access on spark._jvm returns a truthy JavaPackage even
    # for classes that don't exist — Class.forName is the real test
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, ref: str, fmt: str = "auto",
               schema=None) -> DataFrame:
    """``ref`` is a path (parquet/jsonl/csv) or a catalog table name
    (iceberg). fmt: auto | parquet | iceberg | jsonl | csv. An EXPLICIT
    fmt='iceberg' always goes through the iceberg reader (never silently
    falls back to raw parquet, which would read internal data files incl.
    dead snapshots). jsonl/csv take an optional explicit ``schema`` —
    always pass one in production (schema inference scans the data twice
    and guesses types)."""
    if fmt == "iceberg":
        if not _has_iceberg(spark):
            raise RuntimeError("iceberg runtime not on classpath")
        return spark.read.format("iceberg").load(ref)
    if fmt == "jsonl":
        r = spark.read
        return (r.schema(schema) if schema is not None else r).json(ref)
    if fmt == "csv":
        r = spark.read.option("header", "true")
        return (r.schema(schema) if schema is not None else
                r.option("inferSchema", "true")).csv(ref)
    if fmt == "auto" and "/" not in ref:
        if _has_iceberg(spark):
            return spark.read.format("iceberg").load(ref)
        return spark.table(ref)
    return spark.read.parquet(ref)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Guard expression-heavy narrow pipelines against a too-coarse scan.

    A small input (one parquet file, one row group) plans ONE task, so a
    shuffle-free pipeline — however expensive per row — runs on ONE core:
    the sf0.1 variant-validation query spent 22 s on a 100k-row file this
    way (measured; 32 cores idle). When the scan has fewer partitions than
    the session's parallelism, repartition narrow rows up to it; at real
    scale (splits >> cores) this is a structural no-op. Never use on fat
    binary payload rows — those parallelize via file splits
    (CLAUDE.md)."""
    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A small driver-side frame (``rows``: tuples or Rows of flat scalar
    values; ``schema``: StructType or DDL string) planned as a JVM
    ``LocalTableScan``.

    ``spark.createDataFrame(list)`` plans ``Scan ExistingRDD`` over a
    pickled RDD, so EVERY action on it runs Python-worker tasks (16 verdict
    rows, 4-core host: ``count()`` 0.48 s vs 0.11 s, parquet write 0.42 s
    vs 0.17 s). Handing the same rows over as one Arrow table gives the
    JVM the data itself; schema, values and NULLs are unchanged."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    table = pa.table(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def materialize(df: DataFrame, *metrics: Column) -> dict:
    """Run ``df`` once (a lazy ``localCheckpoint`` is filled by it) and
    return the aggregate ``metrics`` (aliased Columns) computed on the way,
    keyed by alias.

    One Spark job for a shuffle-free ``df``: the metrics ride an
    ``Observation`` on a ``noop`` write. ``df.agg(...).collect()`` costs a
    partial-aggregate map job plus a result job under AQE, which turns
    every shuffle stage into a job of its own. An empty ``df`` still
    reports (``count`` 0, ``sum`` NULL)."""
    obs = Observation()
    df.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
    return obs.get


class Checkpoints:
    """``localCheckpoint`` frames of an iterative operator, with their
    blocks released deterministically.

    ``DataFrame.unpersist`` cannot reach a local checkpoint's blocks and
    the ContextCleaner frees them only on a later GC, so ``take`` returns
    a handle naming the RDDs the checkpoint persisted (the ids that
    appeared while it was taken; exact, since the driver builds plans on
    one thread) and ``free`` unpersists exactly those. ``free_all`` drops
    every block not yet freed: the cleanup of a failing call."""

    def __init__(self, spark: SparkSession):
        self._jsc = spark.sparkContext._jsc
        self._held: set = set()

    def _ids(self) -> set:
        return {e.getKey() for e in
                self._jsc.getPersistentRDDs().entrySet().toArray()}

    def take(self, lazy: DataFrame, eager: bool = True
             ) -> tuple[DataFrame, frozenset]:
        before = self._ids()
        ck = lazy.localCheckpoint(eager=eager)
        ids = frozenset(self._ids() - before)
        self._held |= ids
        return ck, ids

    def free(self, handle: frozenset) -> None:
        for e in self._jsc.getPersistentRDDs().entrySet().toArray():
            if e.getKey() in handle:
                e.getValue().unpersist(True)
        self._held -= handle

    def free_all(self) -> None:
        self.free(frozenset(self._held))


def write_table(df: DataFrame, ref: str, fmt: str = "auto",
                mode: str = "append", partition_by: list[str] | None = None,
                bucket_by: tuple[int, list[str]] | None = None):
    """``bucket_by=(n, cols)`` writes a BUCKETED catalog table (``ref``
    must be a table name): two tables bucketed by the same join key with
    the same bucket count sort-merge-join with NO exchange on either side
    — the co-located-join layout for repeated big-fact joins at 10^12 rows
    (e.g. verdict history x violations on image_id). Bucketing implies
    ``saveAsTable``; Iceberg gets the same effect via its partition/
    sort-order spec instead."""
    if bucket_by is not None:
        if "/" in ref:
            raise ValueError("bucketed writes need a catalog table name, "
                             "not a path (bucket metadata lives in the "
                             "catalog)")
        n, cols = bucket_by
        w = df.write.mode(mode).format(
            "parquet" if fmt == "auto" else fmt)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.bucketBy(n, *cols).sortBy(*cols).saveAsTable(ref)
        return
    if fmt == "iceberg" and "/" not in ref:
        w = df.writeTo(ref)
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "jsonl":
        w.json(ref)
    elif fmt == "csv":
        w.option("header", "true").csv(ref)
    else:
        w.parquet(ref)
