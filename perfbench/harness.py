"""Pieces every workload shares: host pinning, the timed session set-up,
the counting sink client, in-memory spans, the Spark event-log reduction
and peak memory.

Spans are recorded from outside the program, around calls into each
layer's public functions; nothing here patches the package.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

PACKAGE = "apache_beam_java_firestore_batch_dataflow_spark"

#: Simulated Firestore commit round trip, paid once per ``commit`` call by
#: the fake client on every workload that writes to the sink.  1 ms, the
#: figure ``bench.py``'s sink leg already uses: the benchmark has no
#: measured latency of a real Firestore endpoint to stand on, and a short
#: fixed sleep keeps the sink's own work (row conversion, batching,
#: serializing each commit) the larger part of its time.
COMMIT_RTT_S = 0.001

#: Firestore's per-commit write limit; the gates check every spooled batch.
MAX_WRITES_PER_COMMIT = 500


# --------------------------------------------------------------------------
# Host pinning
# --------------------------------------------------------------------------


def _mem_total_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_host(root: Path, work: Path) -> dict:
    """Fix the engine's resources to the machine's cores and memory and
    keep every file the run writes inside ``work``.  Must run before the
    JVM launches."""
    cores = len(os.sched_getaffinity(0))
    mem_mb = _mem_total_mb()
    # The package defaults the JVM heap to 16g, which does not fit a
    # 15 GiB machine; a fifth of memory (1-4 GiB) covers these inputs.
    heap_gb = max(1, min(4, mem_mb // 1024 // 5))
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    pythonpath = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        # Python workers import the package and this harness by name.
        PYTHONPATH=":".join(pythonpath),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    import pyspark

    return {
        "cores": cores,
        "mem_total_mb": mem_mb,
        "heap": f"{heap_gb}g",
        "spark_version": pyspark.__version__,
    }


def session_conf(work: Path, event_log_dir: Path | None) -> dict[str, str]:
    conf = {
        # hsperfdata would otherwise land in /tmp, outside the checkout.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": (work / "warehouse").as_uri(),
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def timed_setup(extra_conf: dict[str, str]):
    """``build_session`` plus the first trivial action, timed apart.
    Returns ``(spark, build_s, first_action_s)``."""
    from apache_beam_java_firestore_batch_dataflow_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def child_setup(root: Path, extra_conf: dict[str, str]) -> tuple[float, float]:
    """One cold set-up (a new JVM) in a child Python process; returns
    ``(build_s, first_action_s)``.  The child inherits the pinned
    environment and stops its session before it exits."""
    proc = subprocess.run(
        [sys.executable, "-m", "perfbench.harness", json.dumps(extra_conf)],
        cwd=root, capture_output=True, text=True, timeout=120,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"set-up child failed ({proc.returncode}): {proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    return out["build_s"], out["first_action_s"]


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit: it exits when its stdin
    closes, and it takes its Python workers down with it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


# --------------------------------------------------------------------------
# Sink client that counts
# --------------------------------------------------------------------------


class CountingClient:
    """Fake Firestore client that tallies its own commits.

    Clients live in Python workers, so each writes its tally (attempted
    and failed commits, documents, per-commit latency) to ``stats_dir``
    when the sink closes it; :func:`sink_tally` sums them.
    """

    def __init__(self, spool_dir: str, stats_dir: str, latency_s: float) -> None:
        from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
            FakeFirestoreClient,
        )

        self._inner = FakeFirestoreClient(spool_dir, latency_s)
        self._stats_dir = stats_dir
        self._commit_ms: list[float] = []
        self._failed = 0
        self._docs = 0
        self._closed = False

    def commit(self, collection: str, items: list[tuple[str, dict]]) -> None:
        t0 = time.perf_counter()
        try:
            self._inner.commit(collection, items)
        except Exception:
            self._failed += 1
            raise
        finally:
            self._commit_ms.append((time.perf_counter() - t0) * 1e3)
        self._docs += len(items)

    def close(self) -> None:
        if self._closed:
            return
        self._closed = True
        self._inner.close()
        tally = {"commit_ms": self._commit_ms, "failed": self._failed, "docs": self._docs}
        path = os.path.join(self._stats_dir, f"client-{uuid.uuid4().hex}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(tally, fh)


@dataclass
class SinkTally:
    clients: int = 0
    commits: int = 0
    failed: int = 0
    docs: int = 0
    commit_ms: list[float] = field(default_factory=list)

    def add(self, other: "SinkTally") -> None:
        self.clients += other.clients
        self.commits += other.commits
        self.failed += other.failed
        self.docs += other.docs
        self.commit_ms.extend(other.commit_ms)


def sink_tally(stats_dir: Path) -> SinkTally:
    tally = SinkTally()
    for path in sorted(stats_dir.glob("client-*.json")):
        rec = json.loads(path.read_text(encoding="utf-8"))
        tally.add(SinkTally(1, len(rec["commit_ms"]), rec["failed"], rec["docs"], rec["commit_ms"]))
    return tally


def sink_layer_metrics(tally: SinkTally, write_s: float) -> dict[str, float]:
    ms = sorted(tally.commit_ms)
    return {
        "sink.write_s": write_s,
        "sink.clients": tally.clients,
        "sink.commits": tally.commits,
        "sink.docs": tally.docs,
        "sink.docs_per_s": tally.docs / write_s if write_s > 0 else 0.0,
        "sink.commit_p50_ms": percentile(ms, 50),
        "sink.commit_p99_ms": percentile(ms, 99),
        "sink.failed_commits": tally.failed,
        "sink.fill_ratio": (
            tally.docs / (tally.commits * MAX_WRITES_PER_COMMIT) if tally.commits else 0.0
        ),
    }


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    rep: int
    group: str | None
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around calls into the program's layers.

    With ``spark`` given, a span with a ``group`` also tags the Spark jobs
    it starts with ``setJobGroup("<group>/<rep>", name)`` so the event log
    can be reduced per layer and repetition, and restores the enclosing
    span's tag when it ends; without it only the clock is read.
    """

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._tags: list[tuple[str, str]] = []

    def _tag(self) -> None:
        sc = self.spark.sparkContext
        if self._tags:
            sc.setJobGroup(*self._tags[-1])
        else:
            sc._jsc.clearJobGroup()  # PySpark has no clearJobGroup of its own

    @contextmanager
    def span(self, name: str, rep: int, group: str | None = None) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        tagging = self.spark is not None and group is not None
        if tagging:
            self._tags.append((f"{group}/{rep}", name))
            self._tag()
        rec = Span(name, rep, group, time.perf_counter(), parent=parent)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if tagging:
                self._tags.pop()
                self._tag()

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def to_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "group": s.group, "rep": s.rep, "start": s.start,
             "end": s.end, "parent": s.parent}
            for i, s in enumerate(self.spans)
        ]


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

EVENT_FIELDS = (
    "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def reduce_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Sum task metrics per ``<layer>|<rep>``: the span name and the
    repetition a :class:`Tracer` tagged the job with, or ``streaming`` and
    the micro-batch id for the jobs of a streaming query, which tags its
    own.  Call after ``spark.stop()`` so the log is flushed."""
    stage_layer: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EVENT_FIELDS, 0.0))
    for path in sorted(log_dir.iterdir()):
        with open(path, encoding="utf-8") as fh:
            events = [json.loads(line) for line in fh if line.strip()]
        for ev in events:
            if ev["Event"] == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if "sql.streaming.queryId" in props:
                    layer = f"streaming|{props.get('streaming.sql.batchId', '')}"
                else:
                    rep = props.get("spark.jobGroup.id", "").rpartition("/")[2]
                    layer = f"{props.get('spark.job.description', 'untagged')}|{rep}"
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, layer)
            elif ev["Event"] == "SparkListenerTaskEnd":
                row = out[stage_layer.get(ev["Stage ID"], "untagged|")]
                row["tasks"] += 1
                if ev.get("Task Info", {}).get("Failed"):
                    row["failed_tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                row["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                row["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                row["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                rd = tm.get("Shuffle Read Metrics") or {}
                row["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / 2**20
                wr = tm.get("Shuffle Write Metrics") or {}
                row["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
                row["spill_mb"] += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                ) / 2**20
    return dict(out)


def event_layer_metrics(reduced: dict[str, dict[str, float]], layers: tuple[str, ...]) -> dict:
    """Per-repetition means of each layer's task metrics; repetition 0,
    the warm-up (for ``streaming``, the first micro-batch), is left out."""
    out = {}
    for layer in layers:
        reps = [row for key, row in reduced.items()
                if key.rpartition("|")[0] == layer and key.rpartition("|")[2] not in ("", "0")]
        for field_name in EVENT_FIELDS:
            out[f"{layer}.{field_name}"] = (
                sum(r[field_name] for r in reps) / len(reps) if reps else 0.0
            )
    return out


def spark_task_totals(spark) -> tuple[int, int]:
    """(tasks attempted, tasks failed) over every stage the status
    tracker still holds; used when no event log is written."""
    tracker = spark.sparkContext.statusTracker()
    attempted = failed = 0
    for job_id in tracker.getJobIdsForGroup(None):
        job = tracker.getJobInfo(job_id)
        if job is None:
            continue
        for sid in job.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                attempted += stage.numCompletedTasks + stage.numFailedTasks
                failed += stage.numFailedTasks
    return attempted, failed


# --------------------------------------------------------------------------
# Memory and statistics
# --------------------------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm)


def percentile(sorted_values: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list (0.0 when empty)."""
    if not sorted_values:
        return 0.0
    rank = max(1, -(-len(sorted_values) * pct // 100))
    return float(sorted_values[int(rank) - 1])


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


class GateFailure(Exception):
    """An output of the program does not match what the benchmark expects."""


def gate(ok: bool, message: str) -> None:
    if not ok:
        raise GateFailure(message)


if __name__ == "__main__":
    # ``python3 -m perfbench.harness '<extra_conf json>'``: one timed cold
    # set-up, for :func:`child_setup`.
    _spark, _build_s, _first_s = timed_setup(json.loads(sys.argv[1]))
    stop_session(_spark)
    print(json.dumps({"build_s": _build_s, "first_action_s": _first_s}))
