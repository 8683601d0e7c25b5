"""PySpark-native analytics engine with the capabilities of
``rm3l/apache-beam-java-firestore-batch-dataflow``.

The reference (at ``/root/reference``) is an Apache Beam (Java) batch ETL
pipeline: read text -> tokenize -> count words -> write (word, count)
documents to Firestore, with a naive per-element sink and a buffered batch
sink.  This package re-expresses those capabilities Spark-first — the
DataFrame API declares the logical plan and Catalyst/Tungsten own
optimization and execution — and extends them with the relational,
streaming, and LLM-data-pipeline operators a 100 TB training-data engine
needs (dedup, similarity search, text analysis, multimodal columns).

Layout
------
``session``      SparkSession builder tuned for local[N] testing / cluster scale.
``config``       Typed pipeline config + argparse CLI options (reference
                 ``WordCountToFirestorePipeline.Options`` parity).
``cli``          Entry point with naive/batch implementation dispatch.
``operators/``   wordcount, relational query library, dedup, similarity,
                 text analysis, multimodal plumbing.
``sources/``     text lines + TPC-H-ish parquet table loaders.
``sinks/``       Firestore batch sink on ``mapInArrow`` (one client per
                 partition, Arrow row handoff, commit totals returned) and
                 the naive per-row oracle, with a pluggable (fake) client
                 factory.
``functions/``   deterministic hashing + vector math built on pyspark.sql.functions.
``plans/``       explain-plan inspection helpers (pushdown/broadcast asserts).
``streaming/``   Structured Streaming replay + windowed/sessionized aggs.
"""

__version__ = "0.1.0"
