"""Golden fidelity: our engine over the reference's OWN 15.3 MB Gutenberg
corpus must reproduce the committed golden output (omp_out.txt — produced
by the stale binaries, hence mode='stale'; SURVEY.md §0.2/§0.6).

This is the strongest reference-parity evidence we can produce: every one
of the 57,467 (word, count) pairs must match byte-for-byte.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from wordcount_spark.operators.wordcount import words_from_text
from wordcount_spark.sources.readers import load_text_corpus

CORPUS = "/root/reference/raw_text_input/*"
GOLDEN = "/root/reference/omp_out.txt"

pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLDEN),
    reason=f"reference corpus and golden output absent ({os.path.dirname(GOLDEN)}); "
    "normalizer parity stays covered by test_normalizer and test_property_normalizer",
)


@pytest.fixture(scope="module")
def golden_counts() -> dict[str, int]:
    with open(GOLDEN, "rb") as f:
        data = f.read().decode("utf-8", errors="replace")
    out = {}
    for line in data.splitlines()[1:]:
        m = re.match(r"\[\d+\] (.*): (\d+)$", line)
        if m:
            out[m.group(1)] = int(m.group(2))
    assert len(out) == 57467  # golden unique words (omp_out.txt last index)
    return out


def test_reference_corpus_golden_exact(spark, golden_counts):
    corpus = load_text_corpus(spark, CORPUS, preserve_bom=True)
    words = words_from_text(corpus.select("text"), mode="stale")
    ours = {
        r["word"]: r["cnt"]
        for r in words.groupBy("word").agg(F.count("*").alias("cnt")).collect()
    }
    assert sum(ours.values()) == 2658525  # golden total words (omp_out.txt:1)
    assert len(ours) == 57467
    assert ours == golden_counts


def test_reference_corpus_head_mode_differs_as_documented(spark):
    # HEAD sources strip non-ASCII at token edges (SURVEY.md §0.2): the BOM
    # words and edge-unicode words merge/shrink — totals must move exactly
    # the way the survey documents (fewer uniques, same-or-fewer tokens).
    corpus = load_text_corpus(spark, CORPUS, preserve_bom=True)
    words = words_from_text(corpus.select("text"), mode="head")
    totals = words.groupBy("word").agg(F.count("*").alias("cnt"))
    row = totals.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("uniq")
    ).collect()[0]
    assert row["total"] < 2658525 + 1  # pure-punct+nonascii tokens drop out
    assert row["uniq"] < 57467
