"""Streaming Firestore sink: ``foreachBatch`` reusing the batch writer.

The reference's bundle-buffered sink (FirestoreUpdateDoFn.java:17-103)
maps to a Spark partition in batch mode (sinks/firestore.py) and to a
micro-batch here: each trigger's delta DataFrame is written through the
same chunked, client-per-partition, <=500-writes-per-commit path.

With ``outputMode("update")`` an aggregation emits only rows whose value
changed that micro-batch; because Firestore writes are idempotent upserts
keyed by doc id, replaying a micro-batch after failure converges to the
same state — the reference's at-least-once + idempotent contract
(SURVEY.md §2) carries over unchanged.  Each micro-batch logs its
``batch_id`` (the epoch that makes the sink idempotent) with what it
committed, so a batch Spark replays shows up as a repeated id instead of
passing silently.
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from ..sinks.firestore import (
    FirestoreSinkConfig,
    word_count_item,
    write_word_counts_batch,
)

logger = logging.getLogger(__name__)


def stream_word_counts_writer(
    word_counts: DataFrame,
    config: FirestoreSinkConfig,
    client_factory: Callable[[], object],
    checkpoint_dir: str,
    to_item: Callable[[dict], tuple[str, dict]] = word_count_item,
) -> DataStreamWriter:
    """Build (don't start) a foreachBatch writer for a streaming word count;
    ``to_item`` maps a changed row to its (doc id, body) as in the batch sink."""

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        totals = write_word_counts_batch(batch_df, config, client_factory, to_item)
        logger.info(
            "batch %d: committed %d documents in %d commits",
            batch_id,
            totals.documents,
            totals.commits,
        )

    return (
        word_counts.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle_batch)
    )
