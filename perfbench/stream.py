"""The ``streaming`` layer: Kafka-schema json files read by
``kafka_like_stream(max_files_per_trigger=1)``, counted per (event-time
window, word) by ``kafka_windowed_wordcount`` and upserted per micro-batch
by ``stream_windowed_counts_writer`` with ``trigger(availableNow=True)``.

The sink is called once per micro-batch on small update-mode deltas,
with partly filled commits and a new client per partition per trigger,
so per-call sink cost shows here that one large batch write hides.  The
per-trigger breakdown comes from ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import functools
import json
from pathlib import Path

from .harness import (
    COMMIT_RTT_S,
    MAX_WRITES_PER_COMMIT,
    CountingClient,
    GateFailure,
    gate,
    median,
    sink_tally,
)
from .inputs import StreamInput, write_kafka_messages
from .wc import check_spool

COLLECTION = "stream_counts"
FILES = 6
MESSAGES_PER_FILE = 2000
SPAN_HOURS = 4
#: Keeps a stalled stream inside the run's time limit.
QUERY_TIMEOUT_S = 120

LAYER_NAMES = (
    "streaming.query_s", "streaming.batches", "streaming.input_rows",
    "streaming.trigger_p50_ms", "streaming.add_batch_p50_ms",
    "streaming.planning_p50_ms", "streaming.wal_commit_p50_ms",
    "streaming.state_rows", "streaming.state_memory_mb", "streaming.rows_updated",
    "streaming.sink_clients", "streaming.sink_commits", "streaming.sink_docs",
    "streaming.sink_fill_ratio",
)


def prepare(work: Path, seed: int, vocab: int, zipf_s: float) -> StreamInput:
    return write_kafka_messages(
        work / "messages", seed, vocab, zipf_s, FILES, MESSAGES_PER_FILE, SPAN_HOURS
    )


def measure(spark, messages: StreamInput, work: Path, tracer) -> dict:
    """Run the stream once to the end of its input; the final Firestore
    state must equal the generator's count per (window, word)."""
    from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
        FirestoreSinkConfig,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.sources.streams import (
        kafka_like_stream,
    )
    from apache_beam_java_firestore_batch_dataflow_spark.streaming.pipeline import (
        kafka_windowed_wordcount,
        stream_windowed_counts_writer,
    )

    spool = work / "stream-spool"
    stats = work / "stream-stats"
    spool.mkdir()
    stats.mkdir()
    factory = functools.partial(CountingClient, str(spool), str(stats), COMMIT_RTT_S)
    config = FirestoreSinkConfig(project_id="perfbench", collection_path=COLLECTION)
    with tracer.span("streaming", 1) as span:
        stream = kafka_like_stream(spark, str(messages.path), max_files_per_trigger=1)
        writer = stream_windowed_counts_writer(
            kafka_windowed_wordcount(stream), config, factory, str(work / "stream-checkpoint")
        )
        query = writer.trigger(availableNow=True).start()
        try:
            finished = query.awaitTermination(QUERY_TIMEOUT_S)
        except Exception as exc:  # the stream's own failure is a wrong output
            raise GateFailure(f"streaming query failed: {exc}") from exc
    if not finished:
        query.stop()
        gate(False, f"streaming query still running after {QUERY_TIMEOUT_S} s")
    progress = [json.loads(p.json) for p in query.recentProgress if p.numInputRows > 0]
    check_spool(spool, COLLECTION, messages.docs)
    tally = sink_tally(stats)
    input_rows = sum(p["numInputRows"] for p in progress)
    gate(input_rows == messages.messages,
         f"stream read {input_rows} of {messages.messages} messages")
    gate(len(progress) == messages.files,
         f"{len(progress)} micro-batches for {messages.files} files")

    def p50(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in progress])

    state = progress[-1]["stateOperators"][0]
    return {
        "layer": {
            "streaming.query_s": span.seconds,
            "streaming.batches": len(progress),
            "streaming.input_rows": input_rows,
            "streaming.trigger_p50_ms": p50("triggerExecution"),
            "streaming.add_batch_p50_ms": p50("addBatch"),
            "streaming.planning_p50_ms": p50("queryPlanning"),
            "streaming.wal_commit_p50_ms": p50("walCommit"),
            "streaming.state_rows": state["numRowsTotal"],
            "streaming.state_memory_mb": state["memoryUsedBytes"] / 2**20,
            "streaming.rows_updated": sum(
                p["stateOperators"][0]["numRowsUpdated"] for p in progress
            ),
            "streaming.sink_clients": tally.clients,
            "streaming.sink_commits": tally.commits,
            "streaming.sink_docs": tally.docs,
            "streaming.sink_fill_ratio": tally.docs / (tally.commits * MAX_WRITES_PER_COMMIT),
        },
        "attempted": tally.commits,
        "failed": tally.failed,
        "trace": {"stream_progress": progress},
    }
