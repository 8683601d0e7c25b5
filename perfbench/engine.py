"""The ``operators`` layer: registry queries from ``__spark_entry__.queries()``
on generated star-schema tables, at least one per operator module the
engine's hot paths live in.

A check pass runs every query once, collects it and compares its rows
with its DuckDB oracle from ``oracle_sql()``; that pass also warms the
plans and the Python workers.  The timed pass then runs each query on a
second directory of the same files, so every shared-frame memo (keyed by
directory) is built once inside the timed call, as a user's job pays it.
"""

from __future__ import annotations

import importlib.util
import os
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path

from .harness import GateFailure, gate
from .inputs import write_tables

QUERIES = (
    "q1_pricing_summary",  # relational: JVM scan and aggregate
    "q9_product_profit",  # tpch: six-way join
    "q_wordcount_documents",  # text: the reference tokenizer over documents
    "q_dedup_minhash_lsh",  # dedup: MinHash signatures, banding memo, verify join
    "q_knn_bruteforce_numpy",  # similarity: Arrow/numpy mapInPandas kernel
    "q_graph_jaccard_neighbors",  # graph: neighbour-set Jaccard verify exchange
    "q_graph_pagerank",  # graph: iterative loop with a checkpoint per round
)
#: Scale factor of the generated tables (30k line items).
TABLES_SF = 0.005

LAYER_NAMES = tuple(
    f"q.{q}.{part}" for q in QUERIES for part in ("construct_s", "action_s")
) + ("operators.construct_s", "operators.action_s", "operators.rows")


def load_rowset():
    """``rowset`` (sorted rows of ``norm``-alised values) from
    ``scripts/check_oracles.py``, the engine's own oracle comparison."""
    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "check_oracles", root / "scripts" / "check_oracles.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.rowset


def compare(rowset, query: str, cols: list[str], rows: list[tuple], oracle) -> None:
    """Gate one query's rows against its DuckDB relation: same column
    names, same row count, same normalized row set."""
    dcols = list(oracle.columns)
    drows = oracle.fetchall()
    gate(sorted(cols) == sorted(dcols), f"{query}: columns {cols} vs oracle {dcols}")
    order = [dcols.index(c) for c in cols]
    drows = [tuple(r[i] for i in order) for r in drows]
    gate(len(rows) == len(drows), f"{query}: {len(rows)} rows vs oracle {len(drows)}")
    gate(rowset(rows) == rowset(drows), f"{query}: rows differ from the oracle")


@contextmanager
def _as_wrong_output(query: str) -> Iterator[None]:
    """An error raised by a registry query fails the run like a wrong row."""
    try:
        yield
    except Exception as exc:
        raise GateFailure(f"{query} raised {type(exc).__name__}: {exc}") from exc


def measure(spark, work: Path, seed: int, tracer) -> dict:
    """Check pass, then one timed pass.  Returns the layer metrics and the
    number of registry calls made; a query that raises or disagrees with
    its oracle fails the run."""
    import duckdb

    import __spark_entry__ as entry

    check_dir = work / "tables-check"
    write_tables(check_dir, seed, TABLES_SF)
    timed_dir = work / "tables-timed"
    timed_dir.mkdir()
    for f in check_dir.iterdir():
        os.link(f, timed_dir / f.name)

    queries = entry.queries()
    oracles = entry.oracle_sql()
    rowset = load_rowset()
    con = duckdb.connect()
    for f in sorted(check_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")

    rows_total = 0
    for query in QUERIES:
        with tracer.span("operators", 0, group=query), _as_wrong_output(query):
            df = queries[query](spark, str(check_dir))
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
        compare(rowset, query, cols, rows, con.sql(oracles[query]))
        rows_total += len(rows)
    con.close()

    layer = {}
    for query in QUERIES:
        with tracer.span("operators", 1, group=query), _as_wrong_output(query):
            with tracer.span(f"q.{query}.construct", 1) as construct:
                df = queries[query](spark, str(timed_dir))
            with tracer.span(f"q.{query}.action", 1) as action:
                df.write.format("noop").mode("overwrite").save()
        layer[f"q.{query}.construct_s"] = construct.seconds
        layer[f"q.{query}.action_s"] = action.seconds
    layer["operators.construct_s"] = sum(layer[f"q.{q}.construct_s"] for q in QUERIES)
    layer["operators.action_s"] = sum(layer[f"q.{q}.action_s"] for q in QUERIES)
    layer["operators.rows"] = rows_total
    return {"layer": layer, "attempted": 2 * len(QUERIES), "failed": 0}
