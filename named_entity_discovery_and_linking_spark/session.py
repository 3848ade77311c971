"""SparkSession factory with scale-appropriate defaults.

The reference is a sequential single-process pipeline (main.py:341-346 —
the ThreadPool variant is commented out).  Here parallelism comes from Spark;
these configs are the knobs the north_rule calls out explicitly: AQE with
skew-join handling, explicit shuffle partitions, Arrow-batched UDFs.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "ndl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this pipeline.

    Notes on the choices (these matter at 100 TB, not at fixture scale):

    - AQE on, with coalescing + skew-join splitting: candidate-generation
      joins key on mention text; web corpora have hot names (skew).
    - ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a
      real cluster set it ~2-3x total executor cores via spark-submit conf.
    - Arrow enabled for all pandas UDF exchange; batch size bounded so that
      model-inference stages (mapInPandas) see bounded memory.
    """
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle = shuffle_partitions or max(2 * cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # respect the advisory partition size when coalescing instead of
        # padding every post-shuffle stage back up to defaultParallelism
        # (parallelismFirst=true, the default, schedules ~cores tasks per
        # stage even for KB-sized frames — measured ~0.5 s of pure task-launch
        # overhead PER STAGE on local[32])...
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # ...BUT this pipeline's shuffles carry narrow rows with heavy
        # per-row compute (levenshtein verify, window sorts, array math):
        # at the default 64 MB advisory a 100-MB-but-CPU-bound stage
        # coalesces to ~2 partitions and starves the cores (measured 2->8
        # scaling eff 0.37 at 2.56M pages).  4 MB keeps KB-scale dimension
        # stages at 1 task while giving data-scale stages core-saturating
        # partition counts.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def local_frame(spark: SparkSession, rows, schema, hide_size: bool = False) -> DataFrame:
    """Build a small driver-side frame through Arrow.

    ``spark.createDataFrame(<python list>)`` parallelizes pickled rows into a
    PythonRDD, so every job that reads the frame starts a Python worker
    task just to unpickle them (a 64-row lineage append measured 0.45 s
    that way on a 4-core host, 0.09 s through Arrow).  Handed an Arrow
    table instead, Spark keeps the rows in the JVM (a ``LocalRelation``
    below ``spark.sql.execution.arrow.localRelationThreshold``, JVM-side
    Arrow batches above it) and reading them starts no Python worker.

    ``rows`` holds tuples in ``schema`` order or dicts keyed by field name
    (a missing key is NULL), as ``createDataFrame`` takes them; ``schema``
    is a DDL string or a ``StructType``.  Naive datetimes are read as local
    time, like ``createDataFrame`` reads them.

    ``hide_size=True`` keeps the rows in a JVM RDD of Arrow batches even
    below the threshold, so the optimizer sees no size for the frame, as
    for a list-built one.  Fixtures that stand in for large tables (a KB, a
    crawl) use it: plans built on them keep their at-scale shape instead of
    broadcasting the 'large' side."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, StructType, TimestampType

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    names = struct.fieldNames()
    rows = [tuple(r.get(n) for n in names) if isinstance(r, dict) else tuple(r) for r in rows]
    bad = next((r for r in rows if len(r) != len(names)), None)
    if bad is not None:
        raise ValueError(f"row {bad!r} has {len(bad)} fields, schema has {len(names)}")
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(names)
    arrays = []
    for values, field, arrow_field in zip(columns, struct.fields, arrow_schema):
        if isinstance(field.dataType, TimestampType):
            values = [v if v is None else v.astimezone(datetime.timezone.utc) for v in values]
        arrays.append(pa.array(values, type=arrow_field.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    if not hide_size:
        return spark.createDataFrame(table, struct)
    # a session conf: a local_frame racing this on another thread may take
    # the RDD path too, which changes its plan statistics, never its rows
    key = "spark.sql.execution.arrow.localRelationThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "0")
    try:
        return spark.createDataFrame(table, struct)
    finally:
        spark.conf.set(key, threshold)


def materialize(df, tag: str = "stage"):
    """Stage-boundary materialization via a parquet spill: plan truncation
    like ``localCheckpoint()`` but SERIALIZED columnar storage instead of
    deserialized JVM object caching.  localCheckpoint's MEMORY_AND_DISK
    object store measured ~50% of task time in GC on multi-million-row
    frames (event log: 107 s JVM GC inside an 84 s checkpoint stage);
    a parquet roundtrip keeps the heap flat and reads back vectorized.
    Use for DATA-scale frames; keep localCheckpoint for dimension-scale
    ones (the write+read costs two jobs).  On a cluster this is the
    standard persisted-stage pattern (checkpoint dir / table handoff)."""
    import uuid

    path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"ndl-mat-{os.getpid()}-{tag}-{uuid.uuid4().hex[:8]}",
    )
    df.write.parquet(path)
    _MATERIALIZED.append(path)
    # pass the known schema: skips the read-side schema-inference job
    # (driver-only footer sampling) that otherwise runs per materialization
    return df.sparkSession.read.schema(df.schema).parquet(path)


_MATERIALIZED: list = []


def _cleanup_materialized() -> None:  # pragma: no cover - process teardown
    import shutil

    for p in _MATERIALIZED:
        shutil.rmtree(p, ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_cleanup_materialized)


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the spark-submit --py-files contract
    from BASELINE.json north_star).  Without it, any driver started outside
    the repo root fails to unpickle mapInPandas closures on the workers
    (ModuleNotFoundError).  Idempotent per session."""
    import zipfile

    if getattr(spark, "_ndl_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"{pkg_name}-{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.join(pkg_name, os.path.relpath(full, pkg_dir)))
    spark.sparkContext.addPyFile(zip_path)
    spark._ndl_pkg_shipped = True
