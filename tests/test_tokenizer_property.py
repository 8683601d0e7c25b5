"""Property test: the production tokenizer ``tokens_col`` (maximal runs of
``\\p{L}``, the complement of the reference separator ``[^\\p{L}]+``,
WordCount.java:45) agrees with an independent Unicode-category oracle on
arbitrary mixed-script input, and never emits empty tokens."""

from __future__ import annotations

import unicodedata

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from apache_beam_java_firestore_batch_dataflow_spark.operators.wordcount import (
    tokens_col,
)

# Scripts whose letter-category assignment is stable across Unicode
# versions (JVM and CPython may ship different Unicode data).
ALPHABET = (
    "abcXYZ  \t\n.,;!?-_0123456789"
    "éüñßàç"  # latin-1 letters
    "αβγΩ"  # greek
    "дЖш"  # cyrillic
    "中文字"  # CJK
    "كتب"  # arabic
    "ספר"  # hebrew
    "🙂✨"  # symbols (non-letters)
)


def oracle_tokens(line: str) -> list[str]:
    """Independent implementation: split on runs of non-letter codepoints
    (Unicode general category L*)."""
    out: list[str] = []
    cur: list[str] = []
    for ch in line:
        if unicodedata.category(ch).startswith("L"):
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


@given(
    st.lists(
        st.text(alphabet=ALPHABET, max_size=60), min_size=1, max_size=12
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_tokenizer_matches_unicode_oracle(spark, lines):
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    got = [
        r["toks"]
        for r in df.select(tokens_col(F.col("value")).alias("toks")).collect()
    ]
    want = [oracle_tokens(l) for l in lines]
    assert got == want
    for toks in got:
        assert all(t for t in toks), "no empty tokens"
