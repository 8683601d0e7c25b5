"""Scan-spread gates for the reference word-count source.

``sources.text.read_lines`` round-robin repartitions a text scan that plans
fewer splits than ``defaultParallelism`` (Spark never makes a split
smaller than ``spark.sql.files.openCostInBytes``, so a small file scans
in one or two tasks) and leaves every other scan untouched.  These tests
pin both sides of that rule and its fail-open contract, the way
``test_round17_perf.py`` pins ``spread_scan``.
"""

from __future__ import annotations

from apache_beam_java_firestore_batch_dataflow_spark.sources.tables import (
    spread_if_narrow,
)
from apache_beam_java_firestore_batch_dataflow_spark.sources.text import read_lines


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _write_lines(path, n_lines):
    path.write_text("".join(f"line {i} of some words\n" for i in range(n_lines)))


def test_single_small_file_is_spread_over_every_core(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    assert cores > 1
    f = tmp_path / "small.txt"
    _write_lines(f, 500)
    assert spark.read.text(str(f)).rdd.getNumPartitions() == 1
    lines = read_lines(spark, str(f))
    assert lines.rdd.getNumPartitions() == cores
    assert "Exchange RoundRobinPartitioning" in _plan(lines)
    assert lines.count() == 500


def test_repeated_lines_reach_every_partition(spark, tmp_path):
    """A line repeated throughout a file must not pile up in one task,
    as it would under a hash of the line."""
    cores = spark.sparkContext.defaultParallelism
    f = tmp_path / "repeated.txt"
    f.write_text("the same log line\n" * 400)
    sizes = read_lines(spark, str(f)).rdd.glom().map(len).collect()
    assert len(sizes) == cores
    assert sum(sizes) == 400
    assert min(sizes) > 0


def test_scan_with_enough_splits_gets_no_exchange(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    for i in range(cores):
        _write_lines(tmp_path / f"part-{i}.txt", 50)
    scan = spark.read.text(str(tmp_path))
    assert scan.rdd.getNumPartitions() >= cores
    lines = read_lines(spark, str(tmp_path))
    assert "Exchange" not in _plan(lines)
    assert lines.count() == 50 * cores


def test_spread_if_narrow_fails_open(spark):
    df = spark.range(10)

    def uninspectable() -> int:
        raise OSError("cannot list")

    assert spread_if_narrow(df, spark, uninspectable) is df
    assert spread_if_narrow(df, spark, lambda: 0) is df
    assert spread_if_narrow(df, spark, lambda: 10**6) is df
    spread = spread_if_narrow(df, spark, lambda: 1)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
