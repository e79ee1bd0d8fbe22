"""Property-based testing of the dedup primitives: the zip-with-shifted-
slices shingle expression and the polynomial shingle-hash combine must
agree with independent Python models on arbitrary generated texts — the
slice algebra has off-by-one corners (docs shorter than n, repeated
tokens, exotic whitespace) that golden fixtures can't enumerate."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

import pyspark.sql.functions as F

from wordcount_spark.operators.dedup import (
    _P,
    doc_shingle_hashes,
    minhash_signatures,
    shingle_array,
)

_WS = " \t\n\x0b\f\r"

# documents: tokens + whitespace runs, including empty and whitespace-only
text_st = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=122),
    min_size=0,
    max_size=120,
)


def model_shingles(text: str, n: int = 3) -> list[str]:
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    return sorted({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})


@settings(max_examples=10, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=30))
def test_shingle_array_matches_model(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {
        r.i: sorted(r.sh)
        for r in df.select("i", shingle_array("text").alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == model_shingles(t), f"text={t!r}"


def _token_hashes(spark, tokens: set[str]) -> dict[str, int]:
    """Ground-truth xxhash64-mod-P per token, obtained from Spark itself —
    the polynomial-combine model below must only be trusted for the
    *combination* algebra, not for reimplementing xxhash64 in Python."""
    if not tokens:
        return {}
    df = spark.createDataFrame([(t,) for t in tokens], ["t"])
    rows = df.select(
        "t", ((F.xxhash64("t") % _P + _P) % _P).alias("h")
    ).collect()
    return {r.t: r.h for r in rows}


def model_shingle_hashes(text: str, th: dict[str, int], n: int = 3) -> set[int]:
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    out = set()
    for i in range(len(toks) - n + 1):
        acc = th[toks[i]]
        for k in range(1, n):
            acc = (acc * 8387 + th[toks[i + k]]) % _P
        out.add(acc)
    return out


@settings(max_examples=8, deadline=None)
@given(st.lists(text_st, min_size=1, max_size=20))
def test_doc_shingle_hashes_matches_polynomial_model(spark, texts):
    """The zip-with-shifted-slices rolling combine must equal the naive
    per-window polynomial on Spark's own token hashes — catches slice
    off-by-ones (short docs, width-n boundary) and mod-sign mistakes."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got: dict[int, set[int]] = {i: set() for i in range(len(texts))}
    for r in doc_shingle_hashes(df).collect():
        got[r.id].add(r.x)

    all_tokens = {
        t for txt in texts for t in re.split(r"\s+", txt.lower()) if t
    }
    th = _token_hashes(spark, all_tokens)
    for i, txt in enumerate(texts):
        assert got[i] == model_shingle_hashes(txt, th), f"text={txt!r}"


def test_fast_signatures_equal_for_duplicate_docs(spark):
    """End-to-end sanity for the no-string-materialization path: exact
    duplicates hash to identical signatures, distinct docs don't, and
    every signature slot stays inside [0, P)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different content with other words here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {
        r.id: list(r.signature)
        for r in minhash_signatures(doc_shingle_hashes(df)).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    assert all(0 <= v < _P for s in sigs.values() for v in s)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcxyz 0189", min_size=0, max_size=24),
        min_size=2,
        max_size=6,
    )
)
def test_levenshtein_matches_python_dp(spark, strings):
    """Spark's levenshtein (the dedup_edit_distance_blocked primitive) must
    agree with a from-scratch Python DP on arbitrary ASCII pairs."""
    from pyspark.sql import functions as F

    def dp(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[len(b)]

    pairs = [
        (i, a, b)
        for i, (a, b) in enumerate(
            (x, y) for x in strings for y in strings
        )
    ]
    df = spark.createDataFrame(pairs, ["i", "a", "b"])
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", F.levenshtein("a", "b").alias("d")
        ).collect()
    }
    want = {i: dp(a, b) for i, a, b in pairs}
    assert got == want
