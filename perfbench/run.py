"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload wc_zipf --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` (operations: sink
commits, Spark tasks and registry queries) and ``metrics`` — the
``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``.  A traced run also measures
the streaming and operators layers (``stream.py``, ``engine.py``) and
writes its spans and the reduced Spark event log to ``perfbench/.work/``.  The exit
code is 1 when an output of the program is wrong, 2 when the program is
not there to run and 3 when an operation fails (``correct`` is then
false).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(ROOT))

from perfbench import engine, stream, wc  # noqa: E402
from perfbench.harness import (  # noqa: E402
    PACKAGE,
    GateFailure,
    Tracer,
    child_setup,
    event_layer_metrics,
    median,
    peak_rss_mb,
    pin_host,
    reduce_event_log,
    session_conf,
    spark_task_totals,
    stop_session,
    timed_setup,
)

WORKLOADS = {job.name: job for job in (wc.ZIPF, wc.WIDE_VOCAB)}
SESSION_LAYER = ("session.build_s", "session.first_action_s")
END_TO_END = ("setup_s", "job_s")
#: Cold set-ups per untraced run; each launches its own JVM.
COLD_SETUPS = 2
EVENT_LAYERS = wc.EVENT_LAYERS + ("streaming", "operators")


def load_spec() -> dict:
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as fh:
        return json.load(fh)


def layer_names() -> tuple[str, ...]:
    """Every per-layer metric a traced run fills: the session's, the word
    count's layers', the streaming and operators layers', the reduced
    event log's, peak memory and the failure ratio."""
    events = tuple(event_layer_metrics({}, EVENT_LAYERS))
    return (
        SESSION_LAYER + wc.LAYER_NAMES + stream.LAYER_NAMES + engine.LAYER_NAMES + events
        + ("memory.peak_rss_mb", "ops.failed_frac")
    )


def assemble(spec: dict, trace: bool, values: dict[str, float]) -> dict:
    """Attach units from ``BENCHMARK.json``; every declared metric must be
    there and no other."""
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    names = {m["name"] for m in declared}
    if names != set(values):
        raise KeyError(
            f"metrics missing: {sorted(names - set(values))}, "
            f"not declared in BENCHMARK.json: {sorted(set(values) - names)}"
        )
    return {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in declared
    }


def run(args: argparse.Namespace, spec: dict) -> dict:
    job = WORKLOADS[args.workload]
    work = BENCH_DIR / ".work" / f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    work.mkdir(parents=True)
    host = pin_host(ROOT, work)
    host.update(workload=args.workload, seed=args.seed, trace=args.trace)
    print("host " + json.dumps(host), flush=True)
    event_dir = work / "eventlog" if args.trace else None
    try:
        t0 = time.perf_counter()
        inputs = wc.prepare(job, work, args.seed)
        t1 = time.perf_counter()
        conf = session_conf(work, event_dir)
        # setup_s is the median of COLD_SETUPS cold set-ups, all but the
        # last in child processes; a traced run reports its one set-up.
        setups = [] if args.trace else [child_setup(ROOT, conf) for _ in range(COLD_SETUPS - 1)]
        spark, build_s, first_s = timed_setup(conf)
        setups.append((build_s, first_s))
        try:
            tracer = Tracer(spark if args.trace else None)
            t2 = time.perf_counter()
            out = wc.measure(job, spark, inputs, args.seconds, tracer, work)
            t3 = time.perf_counter()
            probes = []
            if args.trace:
                messages = stream.prepare(work, args.seed, job.vocab, job.zipf_s)
                probes.append(stream.measure(spark, messages, work, tracer))
                probes.append(engine.measure(spark, work, args.seed, tracer))
            t4 = time.perf_counter()
            rss_mb = peak_rss_mb(spark)
            # Jobs tagged with a job group (traced runs) are counted from
            # the event log instead.
            tasks, failed_tasks = spark_task_totals(spark)
        finally:
            stop_session(spark)
        print(
            f"phases: inputs {t1 - t0:.1f} s, set-up {t2 - t1:.1f} s "
            f"(set-ups {' '.join(f'{b + f:.2f}' for b, f in setups)} s), "
            f"warm-up and measure {t3 - t2:.1f} s"
            + (f", streaming and operators {t4 - t3:.1f} s" if args.trace else ""),
            flush=True,
        )
        for line in out["summary"]:
            print(line, flush=True)
        reduced = reduce_event_log(event_dir) if args.trace else {}
        tagged = [row for key, row in reduced.items() if not key.startswith("untagged|")]
        ops = [out] + probes
        attempted = (
            sum(o["attempted"] for o in ops) + tasks + int(sum(row["tasks"] for row in tagged))
        )
        failed = (
            sum(o["failed"] for o in ops) + failed_tasks
            + int(sum(row["failed_tasks"] for row in tagged))
        )
        if args.trace:
            values = {
                "session.build_s": build_s,
                "session.first_action_s": first_s,
                **out["layer"],
                **{k: v for probe in probes for k, v in probe["layer"].items()},
                **event_layer_metrics(reduced, EVENT_LAYERS),
                "memory.peak_rss_mb": rss_mb,
                "ops.failed_frac": failed / attempted,
            }
            trace_file = BENCH_DIR / ".work" / f"trace-{args.workload}-seed{args.seed}.json"
            trace_file.write_text(
                json.dumps(
                    {"host": host, "spans": tracer.to_json(), "event_log": reduced,
                     **{k: v for probe in probes for k, v in probe.get("trace", {}).items()},
                     "metrics": values},
                    indent=1,
                ),
                encoding="utf-8",
            )
            print(f"trace written to {trace_file.relative_to(ROOT)}", flush=True)
        else:
            values = dict(zip(END_TO_END, (median([b + f for b, f in setups]), out["job_s"])))
        return {
            "correct": True,
            "attempted": attempted,
            "failed": failed,
            "metrics": assemble(spec, bool(args.trace), values),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"{PACKAGE} is not in {ROOT}; nothing to benchmark", file=sys.stderr)
        return 2
    spec = load_spec()
    start = time.perf_counter()
    try:
        result = run(args, spec)
    except GateFailure as exc:
        print(f"correctness gate failed: {exc}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    except Exception:
        # On local[k] a failed Spark task or a raising sink commit aborts
        # its job (spark.task.maxFailures is 1), so a failed operation
        # ends the run here rather than in the failure counts.
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 3
    print(f"wall {time.perf_counter() - start:.1f} s", flush=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
