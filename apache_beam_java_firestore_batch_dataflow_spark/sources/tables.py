"""Loaders for the driver's deterministic parquet tables (TESTDATA.md).

Parquet scans get predicate pushdown + column pruning from Catalyst for
free; callers should select/filter *before* wide ops so the scan node
shows ``PushedFilters``/narrow ``ReadSchema`` (see plans/explain.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fixture_fingerprint(sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> str:
    """Cheap driver-side fingerprint of the fixture files under ``sf_dir``
    (path, mtime_ns, size per parquet file/dir-member).

    Used as a component of the shared-kernel memo keys
    (``semantic_edges`` / ``minhash_pairs`` / ``copurchase_adj``): those
    memos hold ``localCheckpoint`` blocks that bypass
    ``spark.catalog.clearCache()``, so without this a same-session
    fixture rewrite under the same ``sf_dir`` would silently serve stale
    checkpointed data (ADVICE r11).  A rewrite changes mtime/size, the
    key misses, and the kernel rebuilds from the new files.  O(tables)
    ``os.stat`` calls — never reads data.
    """
    parts: list[tuple[str, int, int]] = []
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            for entry in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, entry))
                parts.append((f"{name}/{entry}", st.st_mtime_ns, st.st_size))
        elif os.path.exists(path):
            st = os.stat(path)
            parts.append((name, st.st_mtime_ns, st.st_size))
    return repr(parts)


_SPLIT_CACHE: dict[tuple, int] = {}


def scan_data_splits(sf_dir: str, name: str) -> int:
    """Number of parquet ROW GROUPS across the table's files — the upper
    bound on scan tasks that can actually produce rows.  A row group is
    parquet's split atom: Spark may cut a file into more byte-range
    splits, but every split that does not contain a row-group start
    yields an EMPTY task, so ``getNumPartitions()`` over-reports the
    scan's real parallelism (the driver fixtures are one file of one
    row group per table — the whole map side of every query runs as ONE
    task no matter the split count).  Footer-only reads, cached by
    (path, mtime, size) like ``fixture_fingerprint``.

    r17 (ADVICE r16): recurses into nested directories (a
    hive-partitioned layout keeps its data files one level down per
    partition value), so a partitioned table censuses its real row-group
    count instead of reading an empty top-level listing as 0.  May raise
    on non-local URIs — ``spread_scan`` treats any failure as
    "uninspectable, assume splittable" and fails OPEN."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, e)
            for root, _dirs, names in os.walk(path)
            for e in names
            if e.endswith(".parquet")
        )
    else:
        files = [path]
    total = 0
    for f in files:
        st = os.stat(f)
        key = (f, st.st_mtime_ns, st.st_size)
        if key not in _SPLIT_CACHE:
            _SPLIT_CACHE[key] = pq.ParquetFile(f).metadata.num_row_groups
        total += _SPLIT_CACHE[key]
    return total


def spread_scan(
    df: DataFrame, spark: SparkSession, sf_dir: str, name: str,
    key: str | None = None,
) -> DataFrame:
    """Scale-adaptive unsplittable-input rule: when the table's scan can
    produce rows in FEWER tasks than the session has cores (single file,
    single row group — the driver-fixture layout, or any 'one huge
    unsplittable file' input), repartition right after the read so the
    map-side work actually parallelizes; when the scan already has at
    least ``defaultParallelism`` data-bearing splits (any real at-scale
    layout), this is a NO-OP — the plan gains no exchange and predicate
    pushdown/codegen are untouched.

    Callers apply it AFTER their pushable filters and narrow projection,
    so the conditional exchange carries only the columns the downstream
    kernel needs.  ``key`` (a unique/high-cardinality column) selects
    hash partitioning — deterministic and free of round-robin's
    sort-before-repartition pass; omit it for round-robin.

    Fails OPEN (r17, VERDICT r16 item 3 / ADVICE r16): the row-group
    census is a local-filesystem + pyarrow inspection; on an object-store
    URI, a permissions error, a format this census cannot read, or a
    layout that yields no visible data files, the input is treated as
    already-splittable and ``df`` is returned untouched — the rule may
    only ever ADD parallelism it can prove is missing, never a corpus
    shuffle (or a crash) on inputs it cannot inspect."""
    return spread_if_narrow(
        df, spark, lambda: scan_data_splits(sf_dir, name), key
    )


def spread_if_narrow(
    df: DataFrame, spark: SparkSession, count_splits: Callable[[], int],
    key: str | None = None,
) -> DataFrame:
    """The spread decision every scan shares: repartition ``df`` to
    ``defaultParallelism`` (hash on ``key``, else round-robin) when
    ``count_splits()`` says the scan yields fewer splits than that;
    return it untouched when it already has enough, when the count is 0
    (nothing visible to spread), or when the count raises (the input
    cannot be inspected — fail open)."""
    cores = spark.sparkContext.defaultParallelism
    try:
        splits = count_splits()
    except Exception:  # noqa: BLE001 — uninspectable input: fail open
        return df
    if splits == 0 or splits >= cores:
        return df
    return df.repartition(cores, key) if key else df.repartition(cores)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table.

    Side effect (documented, deliberate): sets two session confs the
    fixture semantics require — ``nanosAsLong`` (the driver's
    events.parquet stores TIMESTAMP(NANOS), which the reader otherwise
    rejects) and ``session.timeZone=UTC`` (date/timestamp literals must
    match the DuckDB oracles' UTC wall time).  ``build_session`` already
    sets both; this re-set only matters for vanilla sessions handed in by
    the external driver.  A conflicting pre-set timezone is overwritten
    with a warning rather than silently, so a caller mixing non-UTC work
    into the same session finds out.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz not in (None, "UTC", "Etc/UTC"):
        import warnings

        warnings.warn(
            f"load_table pins spark.sql.session.timeZone=UTC (was {tz!r}); "
            "fixture timestamps and the DuckDB oracles assume UTC",
            stacklevel=2,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # The driver has shipped events.ts as TIMESTAMP(NANOS) (read as long
    # under nanosAsLong) and as plain TIMESTAMP_NTZ micros across fixture
    # regenerations.  Normalize the nanos-as-long flavor here; NTZ columns
    # are left as-is (their collected wall-clock values are tz-independent
    # and match DuckDB naive timestamps exactly — epoch arithmetic goes
    # through functions/timeutil.epoch_us, which accepts either type).
    from pyspark.sql import functions as F

    for field_name, dtype in df.dtypes:
        if field_name == "ts" and dtype == "bigint" and name == "events":
            df = df.withColumn(
                field_name, F.timestamp_micros(F.expr(f"{field_name} div 1000"))
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
