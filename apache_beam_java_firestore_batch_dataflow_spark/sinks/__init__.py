"""Sink connectors: one client per partition, rows handed over as Arrow
batches (``mapInArrow``), a per-partition summary summed on the driver."""

from .firestore import (
    FirestoreSinkConfig,
    FakeFirestoreClient,
    SinkTotals,
    fake_client_factory,
    read_fake_firestore_state,
    write_word_counts_batch,
    write_word_counts_naive,
)

__all__ = [
    "FirestoreSinkConfig",
    "FakeFirestoreClient",
    "SinkTotals",
    "fake_client_factory",
    "read_fake_firestore_state",
    "write_word_counts_batch",
    "write_word_counts_naive",
]
