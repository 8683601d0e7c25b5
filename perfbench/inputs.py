"""Seeded input generators.  The same seed gives the same bytes and the
same expected results; every generator computes its expected output
while it writes, so the gates never ask the program what it should have
produced.

Words are runs of letters (some non-ASCII), separated by runs of
non-letters, so the reference tokenizer (``[^\\p{L}]+``, drop empties)
recovers exactly the words drawn.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_ACCENTS = ("é", "ö", "ñ", "ç", "å")
_SEPARATORS = np.array([" ", " ", " ", " ", ", ", "; ", " - ", "  ", "7", "_"], dtype=object)
# Lines the tokenizer must yield nothing for: blank/whitespace-only lines
# (counted as empty by the word count) and separator-only lines (not empty).
_BLANK_LINES = ("", "   ")
_PUNCT_LINES = ("!!! ???", "-- ... --", "1234 5678", "_ _ _", "(#)")


def make_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct letter-only words of 3-11 letters; about one in
    thirty ends in a non-ASCII letter.

    Ranks get their words through a permutation fixed for every seed, over
    the words sorted by length, so the word at each rank has nearly the
    same length whatever the seed.  Under a Zipf draw the top ranks carry
    much of the text; with seed-drawn lengths the tokens of a fixed-size
    input moved by a tenth from seed to seed, and the job time with them."""
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < size:
        n = size - len(words) + 64
        lengths = rng.integers(3, 12, size=n)
        chars = _LETTERS[rng.integers(0, 26, size=int(lengths.sum()))].tobytes().decode("ascii")
        accent = rng.integers(0, 30 * len(_ACCENTS), size=n)
        pos = 0
        for length, acc in zip(lengths.tolist(), accent.tolist()):
            word = chars[pos : pos + length]
            pos += length
            if acc < len(_ACCENTS):
                word += _ACCENTS[acc]
            if word not in seen:
                seen.add(word)
                words.append(word)
                if len(words) == size:
                    break
    words.sort(key=len)
    return np.array(words, dtype=object)[np.random.default_rng(0).permutation(size)]


def zipf_sampler(size: int, s: float):
    """Inverse-CDF sampler of ranks 0..size-1 with P(k) ∝ (k+1)^-s."""
    cdf = np.cumsum(np.arange(1, size + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]

    def sample(rng: np.random.Generator, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(cdf, rng.random(n)), size - 1)

    return sample


@dataclass
class TextInput:
    path: Path
    counts: dict[str, int]
    lines: int
    empty_lines: int
    tokens: int
    bytes: int


def write_zipf_text(
    path: Path, seed: int, target_bytes: int, vocab_size: int, s: float
) -> TextInput:
    """Write ~``target_bytes`` of text whose words follow Zipf(``s``) over
    a ``vocab_size`` vocabulary; 3% of lines are blank and 3% hold only
    separators."""
    rng = np.random.default_rng(seed)
    vocab = make_vocab(rng, vocab_size)
    sample = zipf_sampler(vocab_size, s)
    counts = np.zeros(vocab_size, dtype=np.int64)
    lines = empty = tokens = written = 0
    chunk_lines = 20_000
    with open(path, "wb") as fh:
        while written < target_bytes:
            lengths = rng.integers(1, 13, size=chunk_lines)
            n_tok = int(lengths.sum())
            ids = sample(rng, n_tok)
            seps = _SEPARATORS[rng.integers(0, len(_SEPARATORS), size=n_tok)]
            seps[np.cumsum(lengths) - 1] = "\n"
            pieces = vocab[ids] + seps
            # Special lines go in at line starts.
            starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
            n_special = chunk_lines * 6 // 100
            at = np.sort(rng.choice(starts, size=n_special, replace=False))
            kinds = rng.integers(0, len(_BLANK_LINES) + len(_PUNCT_LINES), size=n_special)
            specials = np.array(
                [(_BLANK_LINES + _PUNCT_LINES)[k] + "\n" for k in kinds.tolist()], dtype=object
            )
            pieces = np.insert(pieces, at, specials)
            data = "".join(pieces.tolist()).encode("utf-8")
            fh.write(data)
            written += len(data)
            counts += np.bincount(ids, minlength=vocab_size)
            lines += chunk_lines + n_special
            empty += int((kinds < len(_BLANK_LINES)).sum())
            tokens += n_tok
    nz = np.nonzero(counts)[0]
    return TextInput(
        path=path,
        counts={vocab[i]: int(counts[i]) for i in nz.tolist()},
        lines=lines,
        empty_lines=empty,
        tokens=tokens,
        bytes=os.path.getsize(path),
    )


# --------------------------------------------------------------------------
# Kafka-schema messages for the streaming word count
# --------------------------------------------------------------------------

#: Event time of the first message; windows are one hour wide, as in
#: ``kafka_windowed_wordcount``'s default.
STREAM_T0 = np.datetime64("2024-01-01T00:00:00", "us")
WINDOW_US = 3_600_000_000


@dataclass
class StreamInput:
    path: Path
    files: int
    messages: int
    #: Final Firestore state: ``"<window_start>|<word>"`` → document.
    docs: dict[str, dict]


def write_kafka_messages(
    path: Path,
    seed: int,
    vocab_size: int,
    s: float,
    files: int,
    per_file: int,
    span_hours: float,
) -> StreamInput:
    """Write ``files`` json files of ``per_file`` messages each in the
    ``kafka_like_stream`` input schema.  Each value holds 1-12 words drawn
    Zipf(``s``) (uniformly when ``s`` is 0) from a ``vocab_size``
    vocabulary; event time rises evenly over ``span_hours``, so no message
    is ever behind the watermark."""
    rng = np.random.default_rng(seed)
    vocab = make_vocab(rng, vocab_size)
    sample = zipf_sampler(vocab_size, s)
    n = files * per_file
    step_us = int(span_hours * WINDOW_US) // n
    counts: dict[tuple[int, int], int] = {}
    path.mkdir(parents=True)
    for f in range(files):
        lengths = rng.integers(1, 13, size=per_file)
        ids = sample(rng, int(lengths.sum()))
        seps = _SEPARATORS[rng.integers(0, len(_SEPARATORS), size=len(ids))]
        bounds = np.concatenate(([0], np.cumsum(lengths)))
        lines = []
        for j in range(per_file):
            i = f * per_file + j
            ts_us = i * step_us
            window = ts_us // WINDOW_US
            msg_ids = ids[bounds[j] : bounds[j + 1]].tolist()
            for w in msg_ids:
                counts[window, w] = counts.get((window, w), 0) + 1
            value = "".join((vocab[msg_ids] + seps[bounds[j] : bounds[j + 1]]).tolist())
            ts = str(STREAM_T0 + np.timedelta64(ts_us, "us")) + "Z"
            lines.append(json.dumps(
                {"key": f"k{i}", "value": value, "partition": i % 4, "offset": i, "timestamp": ts}
            ))
        part = path / f"part-{f:04d}.json"
        part.write_text("\n".join(lines) + "\n", encoding="utf-8")
        # The file source reads files in modification-time order; a file
        # read out of order would put its messages behind the watermark.
        mtime = time.time() - files + f
        os.utime(part, (mtime, mtime))
    docs = {}
    for (window, w), c in counts.items():
        start = str(STREAM_T0 + np.timedelta64(window * WINDOW_US, "us")).replace("T", " ")[:19]
        docs[f"{start}|{vocab[w]}"] = {"window_start": start, "word": vocab[w], "count": c}
    return StreamInput(path=path, files=files, messages=n, docs=docs)


# --------------------------------------------------------------------------
# Star-schema tables for the registry queries
# --------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "red", "hot", "cold", "small", "old", "new", "green")
_PART_NOUN = ("bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "spring")
_PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
_DOC_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark line "
    "sort window order data column join small big query group filter stream vector "
    "customer".split(),
    dtype=object,
)
EMBEDDING_DIM = 64


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return lo + rng.integers(0, (hi - lo).astype(int), size=n).astype("timedelta64[D]")


def write_tables(path: Path, seed: int, sf: float) -> dict[str, int]:
    """Write the ten parquet tables the registry queries read, with the
    column domains of the engine's test data, at scale factor ``sf``
    (``sf=1`` is 6M line items).  One document in ten is a near copy of
    an earlier one, so the dedup kernels have pairs to find.  Returns the
    row count of each table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(50, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(50, round(200_000 * sf))
    n_ord = max(100, round(1_500_000 * sf))
    n_events = max(100, round(1_000_000 * sf))
    n_docs = max(50, round(50_000 * sf))
    n_vecs = max(50, round(50_000 * sf))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size=n), 2)

    def pick(values: tuple, n: int) -> list:
        return [values[i] for i in rng.integers(0, len(values), size=n).tolist()]

    tables: dict[str, dict] = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}" for a, b in zip(pick(_PART_ADJ, n_part), pick(_PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part).tolist()],
            "p_type": pick(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        },
    }
    order_dates = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    tables["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_ord),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": order_dates.astype("datetime64[us]"),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    }
    lines_per_order = rng.integers(1, 8, size=n_ord)
    n_li = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)
    first = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    quantity = rng.integers(1, 51, size=n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, size=n_li),
        "l_suppkey": rng.integers(0, n_supp, size=n_li),
        "l_linenumber": (np.arange(n_li) - first + 1).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, size=n_li), 2),
        "l_discount": rng.integers(0, 11, size=n_li) / 100,
        "l_tax": rng.integers(0, 9, size=n_li) / 100,
        "l_returnflag": pick(("A", "N", "R"), n_li),
        "l_linestatus": pick(("F", "O"), n_li),
        "l_shipdate": (
            order_dates[l_order] + rng.integers(1, 122, size=n_li).astype("timedelta64[D]")
        ).astype("datetime64[us]"),
    }
    event_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, size=n_events))
    tables["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + event_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(10, round(15_000 * sf)), size=n_events),
        "event_type": pick(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50, size=n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events).tolist()],
    }
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split(" ")
            for at in rng.integers(0, len(words), size=2).tolist():
                words[at] = _DOC_WORDS[int(rng.integers(0, len(_DOC_WORDS)))]
        else:
            n_words = int(rng.integers(8, 80))
            words = _DOC_WORDS[rng.integers(0, len(_DOC_WORDS), size=n_words)].tolist()
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    vectors = rng.normal(0, 0.13, size=(n_vecs, EMBEDDING_DIM)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vectors.ravel()), EMBEDDING_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
    }
    path.mkdir(parents=True)
    rows = {}
    for name, columns in tables.items():
        table = pa.table(columns)
        pq.write_table(table, path / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows
