"""Self-tests of the benchmark: seeded inputs, the correctness gates and
the metric names.  No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import re
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import engine, inputs, run, wc  # noqa: E402
from perfbench.harness import GateFailure, Tracer  # noqa: E402


def _digest(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


def test_same_seed_same_text_and_counts(tmp_path):
    a = inputs.write_zipf_text(tmp_path / "a.txt", 5, 300_000, 2_000, 1.2)
    b = inputs.write_zipf_text(tmp_path / "b.txt", 5, 300_000, 2_000, 1.2)
    c = inputs.write_zipf_text(tmp_path / "c.txt", 6, 300_000, 2_000, 1.2)
    assert _digest(a.path) == _digest(b.path)
    assert (a.counts, a.lines, a.empty_lines, a.tokens) == (b.counts, b.lines, b.empty_lines, b.tokens)
    assert _digest(a.path) != _digest(c.path)


def test_another_seed_keeps_the_word_length_at_each_rank():
    # The top ranks carry most of a Zipf text: their lengths set how many
    # tokens and lines fill a fixed number of bytes.
    a, b = (inputs.make_vocab(np.random.default_rng(s), 5_000) for s in (1, 2))
    assert sum(len(x) == len(y) for x, y in zip(a[:100], b[:100])) >= 80


def test_expected_counts_match_an_independent_tokenization(tmp_path):
    text = inputs.write_zipf_text(tmp_path / "t.txt", 9, 200_000, 1_000, 1.2)
    lines = text.path.read_text(encoding="utf-8").split("\n")[:-1]
    # [^\W\d_]+ is Python's spelling of \p{L}+ for these letters.
    words = Counter(w for line in lines for w in re.findall(r"[^\W\d_]+", line))
    assert dict(words) == text.counts
    assert len(lines) == text.lines
    assert sum(1 for line in lines if line.strip(" ") == "") == text.empty_lines
    assert sum(words.values()) == text.tokens


def _spool(tmp_path: Path, collection: str, docs: dict[str, dict], batch: int = 500) -> Path:
    from apache_beam_java_firestore_batch_dataflow_spark.sinks.firestore import (
        FakeFirestoreClient,
    )

    spool = tmp_path / "spool"
    spool.mkdir()
    client = FakeFirestoreClient(str(spool))
    items = list(docs.items())
    for i in range(0, len(items), batch):
        client.commit(collection, items[i : i + batch])
    client.close()
    return spool


@pytest.fixture
def expected() -> dict[str, dict]:
    return {f"w{i}": {"count": i + 1} for i in range(1200)}


def test_sink_gate_accepts_the_exact_state(tmp_path, expected):
    wc.check_spool(_spool(tmp_path, "corpus.txt", expected), "corpus.txt", expected)


def test_sink_gate_rejects_a_wrong_count(tmp_path, expected):
    wrong = dict(expected, w7={"count": 9})
    with pytest.raises(GateFailure, match="1 wrong"):
        wc.check_spool(_spool(tmp_path, "corpus.txt", wrong), "corpus.txt", expected)


def test_sink_gate_rejects_a_missing_document(tmp_path, expected):
    missing = {k: v for k, v in expected.items() if k != "w3"}
    with pytest.raises(GateFailure, match="1 missing"):
        wc.check_spool(_spool(tmp_path, "corpus.txt", missing), "corpus.txt", expected)


def test_sink_gate_rejects_an_oversized_commit(tmp_path):
    spool = tmp_path / "spool"
    spool.mkdir()
    writes = [{"doc_id": f"w{i}", "data": {"count": 1}} for i in range(501)]
    record = {"collection": "c", "batch_size": 501, "writes": writes}
    (spool / "client-0.jsonl").write_text(json.dumps(record) + "\n", encoding="utf-8")
    with pytest.raises(GateFailure, match="limit 500"):
        wc.check_spool(spool, "c", {w["doc_id"]: w["data"] for w in writes})


def test_metric_names_match_benchmark_json():
    spec = run.load_spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert sorted(m["name"] for m in spec["end_to_end"]) == sorted(run.END_TO_END)
    declared = [m["name"] for m in spec["per_layer"]]
    assert declared == list(run.layer_names())
    assert len(set(declared)) == len(declared)
    assert list(run.assemble(spec, True, dict.fromkeys(declared, 1.0))) == declared
    e2e = dict.fromkeys(run.END_TO_END, 1.0)
    with pytest.raises(KeyError):
        run.assemble(spec, False, dict(e2e, no_such_metric=1.0))
    with pytest.raises(KeyError):
        run.assemble(spec, False, {"job_s": 1.0})


def test_without_the_program_it_exits_nonzero_and_prints_nothing(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wc_zipf", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_a_failed_operation_prints_an_incorrect_result(monkeypatch, capsys):
    def fail(args, spec):
        raise RuntimeError("Job aborted due to stage failure")

    monkeypatch.setattr(run, "run", fail)
    code = run.main(["--workload", "wc_zipf", "--seed", "1", "--seconds", "1"])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 3
    assert result == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def test_same_seed_same_messages_and_windowed_counts(tmp_path):
    a = inputs.write_kafka_messages(tmp_path / "a", 5, 500, 1.2, 3, 200, 2)
    b = inputs.write_kafka_messages(tmp_path / "b", 5, 500, 1.2, 3, 200, 2)
    c = inputs.write_kafka_messages(tmp_path / "c", 6, 500, 1.2, 3, 200, 2)
    digests = [[_digest(p) for p in sorted(d.path.iterdir())] for d in (a, b, c)]
    assert digests[0] == digests[1] != digests[2]
    assert (a.docs, a.messages) == (b.docs, b.messages)


def test_expected_windowed_counts_match_an_independent_recount(tmp_path):
    msgs = inputs.write_kafka_messages(tmp_path / "m", 9, 300, 0.0, 4, 150, 3)
    recount: Counter = Counter()
    n = 0
    for path in sorted(msgs.path.iterdir()):
        for line in path.read_text(encoding="utf-8").splitlines():
            rec = json.loads(line)
            window = rec["timestamp"][:13].replace("T", " ") + ":00:00"
            recount.update((window, w) for w in re.findall(r"[^\W\d_]+", rec["value"]))
            n += 1
    assert n == msgs.messages == 600
    assert {f"{w}|{word}": {"window_start": w, "word": word, "count": c}
            for (w, word), c in recount.items()} == msgs.docs
    assert len({d["window_start"] for d in msgs.docs.values()}) == 3


def test_same_seed_same_tables(tmp_path):
    a = inputs.write_tables(tmp_path / "a", 3, 0.001)
    b = inputs.write_tables(tmp_path / "b", 3, 0.001)
    assert a == b and a["lineitem"] > 0
    for name in a:
        files = [tmp_path / side / f"{name}.parquet" for side in ("a", "b")]
        assert _digest(files[0]) == _digest(files[1])


@pytest.fixture
def oracle():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    yield lambda: con.sql(
        "SELECT * FROM (VALUES (1, 'a', 0.5::DOUBLE), (2, 'b', 1.25::DOUBLE)) t(k, v, x)"
    )
    con.close()


def test_oracle_gate_accepts_the_same_rows_in_any_order(oracle):
    rowset = engine.load_rowset()
    engine.compare(rowset, "q", ["x", "k", "v"], [(1.25, 2, "b"), (0.5, 1, "a")], oracle())


@pytest.mark.parametrize(
    "cols, rows, message",
    [
        (["k", "v", "x"], [(1, "a", 0.5), (2, "b", 1.5)], "rows differ"),
        (["k", "v", "x"], [(1, "a", 0.5)], "1 rows vs oracle 2"),
        (["k", "v", "y"], [(1, "a", 0.5), (2, "b", 1.25)], "columns"),
    ],
)
def test_oracle_gate_rejects_a_wrong_value_a_missing_row_or_column(oracle, cols, rows, message):
    with pytest.raises(GateFailure, match=message):
        engine.compare(engine.load_rowset(), "q", cols, rows, oracle())


def test_an_error_in_a_registry_query_fails_the_run():
    with pytest.raises(GateFailure, match="q_x raised ValueError: boom"):
        with engine._as_wrong_output("q_x"):
            raise ValueError("boom")


class _FakeJsc:
    def __init__(self, calls):
        self.calls = calls

    def clearJobGroup(self):
        self.calls.append(None)


class _FakeSparkContext:
    def __init__(self):
        self.calls = []
        self._jsc = _FakeJsc(self.calls)

    def setJobGroup(self, group, description):
        self.calls.append((group, description))


def test_a_span_restores_the_enclosing_job_group():
    spark = type("FakeSpark", (), {})()
    spark.sparkContext = _FakeSparkContext()
    tracer = Tracer(spark)
    with tracer.span("operators", 1, group="q1"):
        with tracer.span("q.q1.construct", 1):
            pass
        with tracer.span("inner", 1, group="q2"):
            pass
    assert spark.sparkContext.calls == [
        ("q1/1", "operators"), ("q2/1", "inner"), ("q1/1", "operators"), None
    ]
    assert [s.parent for s in tracer.spans] == [None, 0, 0]
