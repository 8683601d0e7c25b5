"""The reference job — read text, count words, upsert each (word, count)
through the batched Firestore sink — via ``cli.run_pipeline``, on two
kinds of text:

* ``wc_zipf``: Zipf text.  Scanning, tokenizing and the partial/final
  count shuffle do most of the work; the sink commits about a hundred
  full batches.
* ``wc_wide_vocab``: words drawn uniformly from a wide vocabulary, so
  most tokens become their own document.  The sink does about half the
  work: converting rows, serializing each commit, the round trip.
"""

from __future__ import annotations

import functools
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from .harness import (
    COMMIT_RTT_S,
    MAX_WRITES_PER_COMMIT,
    CountingClient,
    SinkTally,
    gate,
    median,
    sink_layer_metrics,
    sink_tally,
)
from .inputs import TextInput, write_zipf_text

PROJECT = "perfbench"
#: Warm-up repetitions, not timed: the first ones still JIT-compile,
#: generate code and start Python workers; with one, the first timed
#: repetition still read 10-25% slow in half the runs.
WARMUP_REPS = 2


@dataclass(frozen=True)
class TextJob:
    name: str
    text_bytes: int
    vocab: int
    zipf_s: float  # 0 draws words uniformly


ZIPF = TextJob("wc_zipf", 48 * 2**20, 50_000, 1.2)
WIDE_VOCAB = TextJob("wc_wide_vocab", 4 * 2**20, 480_000, 0.0)

LAYER_NAMES = (
    "sources.scan_s", "sources.input_bytes", "sources.lines",
    "wordcount.count_s", "wordcount.self_s", "wordcount.lines",
    "wordcount.empty_lines", "wordcount.tokens", "wordcount.distinct_words",
    "sink.write_s", "sink.clients", "sink.commits", "sink.docs", "sink.docs_per_s",
    "sink.commit_p50_ms", "sink.commit_p99_ms", "sink.failed_commits", "sink.fill_ratio",
    "job.traced_s", "job.uncovered_s",
)
EVENT_LAYERS = ("job", "sources", "wordcount", "sink")


def prepare(job: TextJob, work: Path, seed: int) -> TextInput:
    return write_zipf_text(work / "corpus.txt", seed, job.text_bytes, job.vocab, job.zipf_s)


def check_spool(spool: Path, collection: str, expected: dict[str, dict]) -> None:
    """The spooled Firestore state must be exactly the generator's counts,
    and no commit may exceed Firestore's write limit."""
    from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
        read_fake_batches,
    )

    state: dict[str, dict] = {}
    for batch in read_fake_batches(str(spool)):
        gate(batch["collection"] == collection, f"wrote to collection {batch['collection']!r}")
        gate(
            batch["batch_size"] == len(batch["writes"]) <= MAX_WRITES_PER_COMMIT,
            f"commit of {len(batch['writes'])} writes (limit {MAX_WRITES_PER_COMMIT})",
        )
        for write in batch["writes"]:
            state[write["doc_id"]] = write["data"]
    if state != expected:
        missing = len(expected.keys() - state.keys())
        extra = len(state.keys() - expected.keys())
        wrong = sum(1 for k in expected.keys() & state.keys() if state[k] != expected[k])
        gate(False, f"sink state: {missing} missing, {extra} unexpected, {wrong} wrong docs")


class _Sink:
    """Fresh spool and tally directories per write, checked afterwards."""

    def __init__(self, work: Path, collection: str, expected: dict[str, dict]) -> None:
        self.work = work
        self.collection = collection
        self.expected = expected
        self.n = 0

    def factory(self):
        self.n += 1
        self.spool = self.work / f"spool-{self.n}"
        self.stats = self.work / f"stats-{self.n}"
        self.spool.mkdir()
        self.stats.mkdir()
        return functools.partial(CountingClient, str(self.spool), str(self.stats), COMMIT_RTT_S)

    def check(self) -> SinkTally:
        check_spool(self.spool, self.collection, self.expected)
        tally = sink_tally(self.stats)
        shutil.rmtree(self.spool)
        shutil.rmtree(self.stats)
        return tally


def measure(job: TextJob, spark, text: TextInput, seconds: float, tracer, work: Path) -> dict:
    from pyspark.sql import Observation

    from apache_beam_java_firestore_batch_dataflow_spark.cli import run_pipeline
    from apache_beam_java_firestore_batch_dataflow_spark.config import PipelineConfig
    from apache_beam_java_firestore_batch_dataflow_spark.operators.wordcount import (
        count_words,
        word_count_pipeline,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
        FirestoreSinkConfig,
        write_word_counts_batch,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.text import read_lines

    config = PipelineConfig(
        implementation="batch", input_file=str(text.path), output_google_cloud_project=PROJECT
    )
    expected = {w: {"count": c} for w, c in text.counts.items()}
    sink = _Sink(work, config.collection_path, expected)
    tally = SinkTally()
    tracing = tracer.spark is not None
    layer: dict[str, float] = {}
    probes: list[SinkTally] = []  # sink probes of the timed repetitions

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def one_rep(rep: int) -> None:
        with tracer.span("rep", rep):
            factory = sink.factory()
            with tracer.span("job", rep, group=job.name):
                run_pipeline(spark, config, factory)
            tally.add(sink.check())
            if not tracing:
                return
            with tracer.span("sources", rep, group=job.name):
                noop(read_lines(spark, str(text.path)))
            lines = read_lines(spark, str(text.path)).count()
            with tracer.span("wordcount", rep, group=job.name):
                noop(count_words(read_lines(spark, str(text.path))))
            # The Observation rides on the untimed pass that persists the
            # count frame for the sink probe, so no timed span pays for it.
            obs = Observation(f"wordcount-{rep}")
            counts = word_count_pipeline(
                read_lines(spark, str(text.path)), observation=obs
            ).persist()
            with tracer.span("sink.prep", rep, group=job.name):
                totals = counts.selectExpr("sum(count) AS tokens", "count(*) AS words").first()
            seen = obs.get
            gate(lines == text.lines, f"read {lines} lines")
            gate(seen["line_count"] == text.lines, f"observed {seen['line_count']} lines")
            gate(seen["empty_lines"] == text.empty_lines, f"observed {seen['empty_lines']} empty lines")
            gate(totals["tokens"] == text.tokens, f"counted {totals['tokens']} tokens")
            gate(totals["words"] == len(text.counts), f"counted {totals['words']} distinct words")
            factory = sink.factory()
            sink_cfg = FirestoreSinkConfig(project_id=PROJECT, collection_path=config.collection_path)
            with tracer.span("sink", rep, group=job.name):
                write_word_counts_batch(counts, sink_cfg, factory)
            counts.unpersist()
            probe = sink.check()
            tally.add(probe)
            if rep > 0:
                probes.append(probe)
            layer.update(
                {
                    "sources.lines": lines,
                    "wordcount.lines": seen["line_count"],
                    "wordcount.empty_lines": seen["empty_lines"],
                    "wordcount.tokens": totals["tokens"],
                    "wordcount.distinct_words": totals["words"],
                }
            )

    for _ in range(WARMUP_REPS):
        one_rep(0)
    tracer.spans.clear()
    end = time.perf_counter() + seconds
    rep = 1
    while rep == 1 or time.perf_counter() < end:
        one_rep(rep)
        rep += 1

    job_s = median(tracer.seconds("job"))
    if tracing:
        scan_s = median(tracer.seconds("sources"))
        count_s = median(tracer.seconds("wordcount"))
        write_s = median(tracer.seconds("sink"))
        # Counts are per write (every probe writes the same frame); the
        # latency percentiles pool every probe's commits.
        per_write = SinkTally(
            probes[-1].clients, probes[-1].commits, sum(p.failed for p in probes),
            probes[-1].docs, [ms for p in probes for ms in p.commit_ms],
        )
        layer.update(sink_layer_metrics(per_write, write_s))
        layer.update(
            {
                "sources.scan_s": scan_s,
                "sources.input_bytes": text.bytes,
                "wordcount.count_s": count_s,
                "wordcount.self_s": count_s - scan_s,
                "job.traced_s": job_s,
                "job.uncovered_s": job_s - count_s - write_s,
            }
        )
    return {
        "job_s": job_s,
        "layer": layer,
        "attempted": tally.commits,
        "failed": tally.failed,
        "summary": [
            f"job_s {job_s:.3f}, median of reps "
            + " ".join(f"{t:.3f}" for t in tracer.seconds("job")),
        ]
        + (
            [
                f"self time: sources {layer['sources.scan_s']:.3f} s, "
                f"wordcount {layer['wordcount.self_s']:.3f} s, sink {layer['sink.write_s']:.3f} s; "
                f"not covered {layer['job.uncovered_s']:.3f} s = job_s - count_s - write_s "
                "(plan building, handing the final aggregate to the Python sink, "
                "per-action scheduling; negative where layers overlap inside one job)"
            ]
            if tracing
            else []
        ),
    }
