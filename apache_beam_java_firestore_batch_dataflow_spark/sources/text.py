"""Text-line source (reference O1: ``TextIO.read().from(path)``,
``NaiveImplementation.java:36``).

``spark.read.text`` yields one row per line with column ``value`` and
supports globs natively; ``gs://`` paths work when the GCS Hadoop
connector jar is on the classpath (same deployment-time concern as Beam's
``gcsio``).  Scans are split by ``spark.sql.files.maxPartitionBytes`` —
a 100 TB text corpus parallelizes across executors with no extra code.

Small inputs are the exception: Spark never makes a split smaller than
``spark.sql.files.openCostInBytes`` (4 MiB by default), so a 4 MiB file
plans 2 splits and tokenizing it would use 2 of 4 cores.  ``read_lines``
therefore round-robin repartitions to ``defaultParallelism`` when the
scan plans fewer splits than that, and otherwise returns the scan
untouched (no Exchange) — the rule ``sources.tables.spread_scan``
applies to parquet tables, failing open the same way.  Round-robin, not
a hash of the line: text repeats (blank lines, boilerplate, log lines),
and every copy of a line would hash to the same partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .tables import spread_if_narrow


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """One row per line: DataFrame[value: string], spread over every core
    when the scan alone would leave some idle (see the module docstring)."""
    lines = spark.read.text(path)
    return spread_if_narrow(lines, spark, lambda: lines.rdd.getNumPartitions())
