"""Gates for the package's PySpark worker daemon and the host-sized heap.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task,
which since Python 3.10 re-parses every cached zip on ``sys.path``
(``pyspark.zip``, the spark-core jar).  ``worker_daemon`` re-reads a zip
only when its (mtime, size) moved; these tests pin that an unchanged
archive is never re-read inside a task, that a rewritten one is, and that
``addPyFile`` zips still import.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from pyspark.sql import functions as F

from apache_beam_java_firestore_batch_dataflow_spark import session, worker_daemon


def test_python_tasks_reread_no_unchanged_archive(spark):
    """Inside a task the workers' zip importers (one per imported pyspark
    subpackage, plus the jar) must all be skipped by a second
    ``invalidate_caches``: 0 archives re-read, where ``pyspark.daemon``
    re-reads every one of them."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__

    def probe(_):
        import importlib
        import sys
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or read(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        yield len(zips), reads

    out = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(out) == 4
    for n_zips, reads in out:
        assert n_zips > 0  # the workers do import from archives
        assert reads == []


def _write_zip(path, name, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(zipfile.ZipInfo(f"{name}.py", (2020, 1, 1, 0, 0, 0)), source)


def test_only_a_changed_archive_is_reread(tmp_path, monkeypatch):
    """No Spark: an unchanged zip is not re-read, one rewritten to a new
    size or to the same size with a new mtime is, and its new module
    imports; an archive that cannot be stat'ed is re-read every time."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "daemon_unit_a1", "VALUE = 1\n")
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or read(path)
    )
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("daemon_unit_a1").VALUE == 1
    importer = sys.path_importer_cache[archive]
    reads.clear()

    importer.invalidate_caches()  # first call stamps the importer
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive]

    _write_zip(archive, "daemon_unit_b22", "VALUE = 22\n")  # new size
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive] * 2
    assert importlib.import_module("daemon_unit_b22").VALUE == 22

    size = os.path.getsize(archive)
    _write_zip(archive, "daemon_unit_c22", "VALUE = 33\n")  # same size
    assert os.path.getsize(archive) == size
    mtime = os.stat(archive).st_mtime_ns + 10**9
    os.utime(archive, ns=(mtime, mtime))
    importer.invalidate_caches()
    assert reads == [archive] * 3
    assert importlib.import_module("daemon_unit_c22").VALUE == 33

    os.remove(archive)
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive] * 5


def test_add_py_file_zips_import_in_udfs(spark, tmp_path):
    """Two ``addPyFile`` zips shipped in one session both import inside
    UDFs on the reused workers."""
    for name in ("daemon_pyfile_a", "daemon_pyfile_b"):
        path = str(tmp_path / f"{name}.zip")
        _write_zip(path, name, f"VALUE = {name!r}\n")
        spark.sparkContext.addPyFile(path)

        def value(_, module=name):
            import importlib

            return importlib.import_module(module).VALUE

        rows = spark.range(8).select(F.udf(value, "string")("id").alias("v")).distinct()
        assert [r.v for r in rows.collect()] == [name]


def test_driver_memory_default_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_physical_memory_mb", lambda: 15 * 1024)
    assert session.default_driver_memory() == "9216m"  # 60% of 15 GiB
    monkeypatch.setattr(session, "_physical_memory_mb", lambda: 128 * 1024)
    assert session.default_driver_memory() == "16384m"  # capped at 16g
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"
    monkeypatch.undo()

    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        heap_mb = int(session.default_driver_memory().removesuffix("m"))
        assert heap_mb <= 0.6 * session._physical_memory_mb()
