"""Flagship word-count pipeline vs the DuckDB oracle (SURVEY.md §5 strategy:
differential oracle, fixed to use an independent engine)."""

from __future__ import annotations

from wordcount_spark.functions.text import normalize_word_sql
from wordcount_spark.operators.wordcount import (
    format_reference_output,
    ranked_word_count,
    word_count,
    word_count_totals,
    words_from_text,
)

from tests.conftest import assert_matches_oracle


def wordcount_oracle_sql(mode: str = "head", extra_keys: str = "") -> str:
    norm = normalize_word_sql("tok", mode=mode)
    keys = (extra_keys + ", word") if extra_keys else "word"
    return f"""
        WITH toks AS (
          SELECT {extra_keys + "," if extra_keys else ""}
                 unnest(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+')) AS tok
          FROM documents
        ),
        words AS (
          SELECT {extra_keys + "," if extra_keys else ""} {norm} AS word
          FROM toks WHERE tok <> ''
        )
        SELECT {keys}, count(*) AS cnt FROM words
        WHERE length(word) > 0 GROUP BY {keys} ORDER BY {keys}
    """


def test_word_count_matches_oracle(spark, sf_dir):
    assert_matches_oracle(word_count(spark, sf_dir), wordcount_oracle_sql(), sf_dir)


def test_word_count_stale_mode(spark, sf_dir):
    assert_matches_oracle(
        word_count(spark, sf_dir, mode="stale"), wordcount_oracle_sql("stale"), sf_dir
    )


def test_word_count_per_source(spark, sf_dir):
    assert_matches_oracle(
        word_count(spark, sf_dir, group_cols=["source"]),
        wordcount_oracle_sql(extra_keys="source"),
        sf_dir,
    )


def test_totals(spark, sf_dir):
    sql = f"""
        WITH counts AS ({wordcount_oracle_sql()})
        SELECT CAST(sum(cnt) AS BIGINT) AS total_words, count(*) AS unique_words FROM counts
    """
    assert_matches_oracle(word_count_totals(spark, sf_dir), sql, sf_dir)


def test_ranked_output_is_sorted_and_contiguous(spark, sf_dir):
    ranked = ranked_word_count(spark, sf_dir).collect()
    idxs = [r["rank_idx"] for r in ranked]
    words = [r["word"] for r in ranked]
    assert idxs == list(range(len(ranked)))  # 0-based contiguous [i]
    assert words == sorted(words)  # byte-order ascending (UTF8_BINARY)


def test_reference_output_format(spark, sf_dir):
    ranked = ranked_word_count(spark, sf_dir)
    lines = format_reference_output(ranked.limit(3), "documents.parquet")
    assert lines[0] == "Filename: documents.parquet"
    assert lines[1].startswith("[0] ")


def test_words_from_text_preserves_columns(spark):
    df = spark.createDataFrame([("Hello, WORLD!! ...", "en")], ["text", "lang"])
    rows = words_from_text(df).collect()
    assert {(r["word"], r["lang"]) for r in rows} == {("hello", "en"), ("world", "en")}


def test_normalize_runs_above_first_aggregate(spark, sf_dir):
    # Vocabulary pre-aggregation only pays if the normalizer's regex runs
    # per distinct raw token: no Filter evaluating it may sit below the
    # first (raw-token) Aggregate, where it would run once per token.
    plan = word_count(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    first_agg = max(i for i, line in enumerate(lines) if "Aggregate [" in line)
    below = lines[first_agg + 1:]
    assert not [line for line in below if "Filter" in line and "regexp_replace" in line]
