"""SparkSession construction.

One place to encode the scale-aware defaults: AQE on (runtime coalesce +
skew-join handling), UTC session timezone (matches the DuckDB oracle),
Arrow enabled for the Pandas-UDF slow path, and shuffle partitions sized
to the local core count rather than Spark's default 200.  On a real
cluster the same builder is used with ``master`` / ``shuffle_partitions``
supplied by the deployment (e.g. 2-3x total executor cores).

Python workers start through ``worker_daemon`` (``spark.python.daemon.module``)
instead of ``pyspark.daemon``.  PySpark's worker calls
``importlib.invalidate_caches()`` before every task, and since Python 3.10
that makes each cached ``zipimporter`` re-parse its archive's central
directory: ``pyspark.zip`` and the ``spark-core`` jar, ~27k entries, 0.2-0.3 s
of CPU per task on a 4-core host, in every ``mapInArrow`` / ``mapInPandas``
stage, UDF, RDD lambda and ``foreachBatch`` sink.  The daemon re-reads an
archive only when its mtime or size changed, so a one-task ``mapInArrow``
job drops from 0.32 s to 0.19 s.  The workers must be able to import this package
(run from the repo root or put it on ``PYTHONPATH``), as the sink already
requires.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else min(16g, 60% of physical memory)."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    return f"{min(16 * 1024, _physical_memory_mb() * 6 // 10)}m"


def _physical_memory_mb() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20


def build_session(
    app_name: str = "apache_beam_java_firestore_batch_dataflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults."""
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Spark's default driver heap is 1g — and in local mode the
        # driver IS the executor, so the entire 32-thread engine was
        # GC-thrashing inside 1 GB on a 128 GiB host (measured: the
        # bench's 4M-row skew leg varied 2.5s-12s run to run, and 16M
        # rows OOMed).  Size the heap to the work; must be set before
        # the JVM launches, hence here and not per-query.  Capped to the
        # host: a flat 16g overcommits a 15 GiB machine.
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and normalize in sources/tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
