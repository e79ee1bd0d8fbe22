"""Property tests for the rows-only queries (no SQL oracle): approximate
sketches bounded against exact values; seeded sampling bounded by Chernoff-
style tolerances; pandas-UDF normalizer cross-check (SURVEY.md §2.6)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from wordcount_spark.operators.queries_textstats import (
    agg_approx_sketches,
    sample_fraction,
)


def test_approx_sketches_bounded(spark, sf_dir):
    approx = {r["l_returnflag"]: r for r in agg_approx_sketches(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("med"),
        )
        .collect()
    }
    for flag, a in approx.items():
        e = exact[flag]
        assert abs(a["approx_parts"] - e["nd"]) <= max(3, 0.1 * e["nd"])
        assert abs(a["approx_median_price"] - e["med"]) <= 0.05 * e["med"]


def test_sample_fraction_bounds(spark, sf_dir):
    n_total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_sample = sample_fraction(spark, sf_dir).count()
    assert 0.03 * n_total <= n_sample <= 0.2 * n_total
    # deterministic per seed
    assert n_sample == sample_fraction(spark, sf_dir).count()


def test_pandas_udf_normalizer_crosscheck(spark):
    """The documented UDF surface: a byte-faithful pandas_udf of the
    reference process_word, cross-checked against the JVM expression on
    the golden fixture tokens (SURVEY.md §2.6)."""
    import re

    from wordcount_spark.functions.text import normalize_word

    punct = set("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~")

    def process_word_py(w: str) -> str:
        # reference sequential.cpp:12-37, HEAD semantics, on code points
        bs = list(w)
        while bs and (bs[0] in punct or ord(bs[0]) > 127):
            bs.pop(0)
        while bs and (bs[-1] in punct or ord(bs[-1]) > 127):
            bs.pop()
        return "".join(
            chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in bs
        )

    @F.pandas_udf("string")
    def process_word_udf(s: pd.Series) -> pd.Series:
        return s.map(process_word_py)

    from tests.test_normalizer import GOLDEN

    df = spark.createDataFrame([(g[0],) for g in GOLDEN], ["tok"])
    rows = df.select(
        "tok",
        normalize_word("tok", mode="head").alias("expr_norm"),
        process_word_udf("tok").alias("udf_norm"),
    ).collect()
    for r in rows:
        assert r["expr_norm"] == r["udf_norm"], r["tok"]


#: six documents whose terms have document frequency 2..6 (one term 1),
#: inside text_tfidf_doc_similarity's 2 <= df <= 20 band; the registry
#: test corpora keep no term in that band, so their parity is 0 rows
_TFIDF_DOCS = [
    "the apple banana cherry apple date",
    "The Banana cherry elder fig",
    "the apple fig grape grape",
    "the cherry date elder honeydew",
    "the grape apple banana kiwi",
    "the date fig kiwi cherry zebra",
]


def test_tfidf_doc_similarity_matches_oracle_on_banded_corpus(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR, _TABLES, assert_matches_oracle
    from wordcount_spark.registry import get_oracles, get_queries

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(_TFIDF_DOCS)), pa.int64()),
                "text": _TFIDF_DOCS,
                "lang": ["en"] * len(_TFIDF_DOCS),
                "source": ["web"] * len(_TFIDF_DOCS),
                "n_chars": pa.array([len(t) for t in _TFIDF_DOCS], pa.int64()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    for t in set(_TABLES) - {"documents"}:  # the oracle's views need every table
        os.symlink(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    name = "text_tfidf_doc_similarity"
    df = get_queries()[name](spark, str(tmp_path))
    assert df.count() > 0
    assert_matches_oracle(df, get_oracles()[name], str(tmp_path))
