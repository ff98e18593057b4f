"""Tests for `datapipe/text.py`: the bound-once higher-order-function forms
of `token_ngrams` and `chunk_documents` against their direct recomputations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.mark.parametrize("n", [2, 3])
def test_token_ngrams_binding_matches_inline_form(spark, n):
    from flink_parent_spark.datapipe.text import token_ngrams, tokens

    df = spark.createDataFrame(
        [("a b c d e",), ("one two",), ("single",), ("",)], ["text"]
    )
    got = df.select(token_ngrams(F.col("text"), n).alias("g")).collect()
    # inline O(T^2) form as the semantic reference
    toks = tokens(F.col("text"))
    inline = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ref = df.select(inline.alias("g")).collect()
    assert [list(r["g"]) for r in got] == [list(r["g"]) for r in ref]


def test_chunk_documents_values_after_hof_bind(spark):
    """chunk_documents once re-tokenized per chunk (the O(T^2)
    higher-order-function bug class); pin the exact output against a
    Python recomputation."""
    from flink_parent_spark.datapipe.text import chunk_documents

    rows = [
        (1, "a b c d e f g h"),
        (2, "x y"),
        (3, "  lone  "),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    }

    def expected(text):
        toks = text.strip().split()
        stride = 3
        out = {}
        for ci, s in enumerate(range(0, max(len(toks) - 1, 0) + 1, stride)):
            out[ci] = (" ".join(toks[s:s + 4]), min(len(toks) - s, 4))
        return out

    want = {
        (i, ci): v for i, t in rows for ci, v in expected(t).items()
    }
    assert got == want
