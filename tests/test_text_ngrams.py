"""Word n-gram operators tokenize each document once.

``shingles``, ``repetition_ratio`` and ``dsir.ngram_features`` bind the
token array once per row (``text.over_tokens``) instead of re-splitting
the text inside every per-n-gram lambda. These tests pin both halves:
the expression holds a single ``split(``, and the results equal a plain
Python rendering of the tokenization contract (lower + single-space
split) on the edge cases the n-gram windows care about.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_tools_spark.operators.dsir import ngram_features
from big_data_tools_spark.operators.text import repetition_ratio, shingles

DOCS = [
    "hello world",  # fewer than n=3 tokens
    "one two three",  # exactly n tokens
    "the cat sat the cat sat the cat sat",  # repeated n-grams
    "a  b c  d",  # double spaces -> empty tokens
    "The CAT sat ON the Mat the cat",  # upper case folds into repeats
    "single",
    "",
    None,
]


def _toks(s: str) -> list[str]:
    return s.lower().split(" ")


def _grams(t: list[str], n: int) -> list[str]:
    return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]


def ref_shingles(s, n):
    if s is None or len(_toks(s)) < n:
        return []
    return list(dict.fromkeys(_grams(_toks(s), n)))


def ref_repetition_ratio(s, n):
    if s is None:
        return 0.0
    g = _grams(_toks(s), n)
    return 1.0 - len(set(g)) / len(g) if g else 0.0


def ref_ngram_features(s):
    if s is None:
        return None
    t = _toks(s)
    return t + [f"{a} {b}" for a, b in zip(t, t[1:])]


@pytest.mark.parametrize("fn", [shingles, repetition_ratio, ngram_features])
def test_text_is_split_once(spark, fn):
    expr = str(fn(F.col("text")))
    assert expr.count("split(") == 1, expr


@pytest.mark.parametrize("n", [2, 3])
def test_ngrams_match_python_reference(spark, n):
    df = spark.createDataFrame(list(enumerate(DOCS)), "i int, text string")
    rows = df.select(
        "i",
        "text",
        shingles(F.col("text"), n).alias("sh"),
        repetition_ratio(F.col("text"), n).alias("rep"),
        ngram_features(F.col("text")).alias("feat"),
    ).collect()
    assert len(rows) == len(DOCS)
    for r in rows:
        assert r["sh"] == ref_shingles(r["text"], n), r["text"]
        assert r["rep"] == ref_repetition_ratio(r["text"], n), r["text"]
        assert r["feat"] == ref_ngram_features(r["text"]), r["text"]
