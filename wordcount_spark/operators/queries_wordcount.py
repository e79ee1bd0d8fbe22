"""Registered word-count queries (the reference's entire query surface,
SURVEY.md §2.1-2.4, plus per-lang/source analytics variants)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from wordcount_spark.functions.text import normalize_word_sql
from wordcount_spark.operators.wordcount import (
    ranked_word_count,
    word_count,
    word_count_totals,
    words_from_text,
)
from wordcount_spark.registry import register
from wordcount_spark.sources.readers import load_table

# DuckDB-side tokenize: same whitespace set as C++ operator>> / Java \s.
_TOKS = r"""
  SELECT {keys} unnest(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+')) AS tok
  FROM documents
"""


def _wc_sql(mode: str = "head", extra_keys: tuple[str, ...] = ()) -> str:
    norm = normalize_word_sql("tok", mode=mode)
    kprefix = (", ".join(extra_keys) + ",") if extra_keys else ""
    keys = ", ".join([*extra_keys, "word"])
    toks = _TOKS.format(keys=kprefix)
    return f"""
        WITH toks AS ({toks}),
        words AS (
          SELECT {kprefix} {norm} AS word FROM toks WHERE tok <> ''
        )
        SELECT {keys}, count(*) AS cnt FROM words
        WHERE length(word) > 0 GROUP BY {keys} ORDER BY {keys}
    """


@register("wordcount", _wc_sql())
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference query (HEAD-source normalizer semantics).

    Scale: vocabulary pre-aggregation counts RAW tokens first and
    normalizes only the distinct vocabulary (O(vocab) regex work, not
    O(tokens)); two map-side-combinable exchanges + the output sort, all
    detailed in ``operators/wordcount.py::count_words``."""
    return word_count(spark, sf_dir)


@register("wordcount_stale", _wc_sql(mode="stale"))
def q_wordcount_stale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stale-binary normalizer variant (produced the committed goldens).

    Scale: identical plan to the flagship; only the normalizer regex
    differs (same vocabulary pre-aggregation, same two exchanges)."""
    return word_count(spark, sf_dir, mode="stale")


@register("wordcount_per_source", _wc_sql(extra_keys=("source",)))
def q_wordcount_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file-analog counts (sequential-binary semantics generalized).

    Scale: adds `source` to both aggregation keys, so the exchanges
    carry (source, token); vocabulary pre-aggregation still bounds the
    normalize work at O(per-source vocab)."""
    return word_count(spark, sf_dir, group_cols=["source"])


@register("wordcount_per_lang", _wc_sql(extra_keys=("lang",)))
def q_wordcount_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language counts (extension analytics dimension).

    Scale: same keyed-aggregation shape with the low-cardinality `lang`
    key; language skew (English dominates real corpora) is the 100 TB
    hazard, absorbed by the map-side partial aggregate: each hot key
    leaves a map task as one row, so no reducer sees more rows for it
    than there are map partitions."""
    return word_count(spark, sf_dir, group_cols=["lang"])


@register(
    "wordcount_ranked",
    f"""
    WITH wc AS ({_wc_sql()})
    SELECT row_number() OVER (ORDER BY word) - 1 AS rank_idx, word, cnt
    FROM wc ORDER BY rank_idx
    """,
)
def q_wordcount_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``[i]``-ranked output — computed with distributed
    zipWithIndex over the sorted result, NOT a one-partition window; the
    oracle's row_number() spelling proves the indices are identical."""
    return ranked_word_count(spark, sf_dir)


@register(
    "wordcount_ci_collation",
    f"""
    WITH wc AS (
      WITH toks AS ({_TOKS.format(keys="")}),
      words AS (
        SELECT {normalize_word_sql("tok", mode="stale")} AS word
        FROM toks WHERE tok <> ''
      )
      SELECT word FROM words
      WHERE length(word) > 0 AND regexp_matches(word, '^[\\x00-\\x7f]*$')
    )
    SELECT lower(word) AS word_ci, count(*) AS cnt
    FROM wc GROUP BY 1 ORDER BY word_ci
    """,
)
def q_wordcount_ci_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive word count through Spark 4 COLLATION
    (``UTF8_LCASE``): grouping compares words case-insensitively inside
    the hash aggregate — no lowercase copy of the data is materialized.
    Uses the STALE normalizer (no ASCII-lowercase fold) so there are
    actual case variants left to merge. Restricted to ASCII-only tokens
    on BOTH sides: for non-ASCII, ICU collation equality and Java
    full-casemap lower() can diverge from DuckDB's simple-casemap
    lower() (e.g. U+0130), so without the pin the oracle MATCH would
    silently depend on corpus content surviving regeneration.

    Scale: same single-exchange hash aggregation as the flagship — the
    collation changes the grouping comparator, not the plan shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = words_from_text(docs.select("text"), mode="stale").where(
        F.col("word").rlike("^[\\x00-\\x7f]*$")
    )
    return (
        words.groupBy(F.collate("word", "UTF8_LCASE").alias("word_coll"))
        .agg(F.count("*").alias("cnt"))
        # the group representative's casing is whichever member the agg saw
        # first (nondeterministic) — canonicalize AFTER the collated agg
        .select(F.lower("word_coll").alias("word_ci"), "cnt")
        .orderBy("word_ci")
    )


@register(
    "wordcount_totals",
    f"""
    WITH counts AS ({_wc_sql()})
    SELECT CAST(sum(cnt) AS BIGINT) AS total_words, count(*) AS unique_words FROM counts
    """,
)
def q_wordcount_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's two scalars: total words + unique words.

    Scale: one pass over the already-grouped vocabulary frame; sum +
    count collapse in a single global aggregate whose all-to-one
    exchange carries one row per upstream partition."""
    return word_count_totals(spark, sf_dir)
