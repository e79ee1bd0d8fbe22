"""The reference query: MapReduce word count, Spark-first.

Reference pipeline (SURVEY.md §3): tokenize → process_word → drop empties →
(word, 1) → hash-shuffle by word → sum → lexicographic sort → [i]-ranked
print. Every hand-built physical trick in the reference maps to something
Catalyst does automatically:

- map-side partial hash agg (``omp.cpp:113-115``)   → partial HashAggregate
- hash partition by key (``omp.cpp:84-90``)         → Exchange hashpartitioning
- two-level reduce (``hybrid.cpp:221-233``)         → final HashAggregate (+AQE)
- demand-driven file scheduling (``hybrid.cpp:321``)→ Spark task scheduler

So the whole flagship is one declarative plan:
``FileScan → Project/Filter (codegen) → partial agg → Exchange → final agg
→ range Exchange → Sort``.

Scale notes (100 TB): tokenize+count is embarrassingly parallel; the only
shuffle is on ``word`` whose cardinality is small relative to input (~57k
uniques over 15 MB in the reference corpus — Zipfian), so map-side partial
aggregation crushes the shuffle volume. The global sorted ``[i]`` rank is
the one scale hazard: a global ``row_number()`` window collapses to one
partition, so the scale path is ``zipWithIndex`` over the sorted result
(``ranked_word_count``) — per-partition offsets computed from partition
sizes, no single-task bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.functions.text import TOKEN_SPLIT_RE, normalize_word
from wordcount_spark.sources.readers import load_table


def _fan_out_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition ahead of the CPU-heavy tokenize stage IF the scan is
    under-parallel (fewer partitions than half the cluster's slots).

    At 100 TB a parquet scan yields thousands of splits and this is a no-op
    (no shuffle added). On a single small file (one row group → one task,
    exactly the local test corpus) it round-robins rows so the explode +
    normalize + partial-agg stage uses every core. The shuffled payload is
    the raw text — strictly smaller than the exploded token stream it
    enables to run in parallel.
    """
    if df.isStreaming:  # micro-batches parallelize per-trigger; .rdd illegal
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 < target:
        return df.repartition(target)
    return df


def words_from_text(df: DataFrame, text_col: str = "text", mode: str = "head") -> DataFrame:
    """text → one row per kept (normalized, non-empty) word.

    All other columns of ``df`` are preserved (for per-source/lang grouping).
    """
    # Explode a PLAIN split, then normalize + filter as flat codegen
    # operators. Higher-order functions (transform/filter over the token
    # array) evaluate their lambda interpreted, outside whole-stage codegen
    # — measured ~15% slower than the flat Generate → Project → Filter
    # pipeline on the reference corpus. Normalize is computed once in the
    # Project; the Filter tests the already-computed column.
    return (
        _fan_out_if_narrow(df)
        .withColumn("word", F.explode(F.split(text_col, TOKEN_SPLIT_RE)))
        .withColumn("word", normalize_word(F.col("word"), mode=mode))
        .filter(F.col("word") != "")
        .drop(text_col)
    )


def count_words(df: DataFrame, text_col: str = "text", mode: str = "head",
                group_cols: list[str] | None = None) -> DataFrame:
    """Grouped word counts via VOCABULARY PRE-AGGREGATION.

    Natural-language token streams are massively duplicated (the reference
    corpus: 2.66M tokens, ~100k distinct raws). Counting RAW tokens first
    and normalizing only the distinct vocabulary runs the regex O(vocab)
    times instead of O(tokens) — a ~25x cut in scalar work at any scale.
    The second aggregation (normalized word) is vocabulary-sized, so its
    exchange is negligible next to the first; both are map-side combinable.
    Result is identical to normalize-then-count (sum is associative over
    the raw→normalized merge).

    The explode feeds a PLAIN split array — no higher-order filter for the
    ""-tokens a leading/trailing-whitespace split emits (HOF lambdas run
    interpreted, outside codegen). All empty raw tokens collapse into one
    vocabulary row in the first agg, and so does every raw token that
    normalizes to "". The empty word is dropped AFTER the second agg: its
    ``cnt`` sums no kept rows and is null. A plain ``length(word) > 0``
    filter would be pushed by Catalyst below the first agg (it only reads a
    grouping key), running the regex once per token again.
    """
    keys = list(group_cols or [])
    raw = (
        _fan_out_if_narrow(df.select(text_col, *keys))
        .withColumn("__tok", F.explode(F.split(text_col, TOKEN_SPLIT_RE)))
        .groupBy(*keys, "__tok")
        .agg(F.count("*").alias("__c"))
    )
    return (
        raw.withColumn("word", normalize_word(F.col("__tok"), mode=mode))
        .groupBy(*keys, "word")
        .agg(F.sum(F.when(F.length("word") > 0, F.col("__c"))).alias("cnt"))
        .filter(F.col("cnt").isNotNull())
    )


def word_count(
    spark: SparkSession,
    sf_dir: str,
    mode: str = "head",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """The flagship: ``SELECT word, count(*) FROM corpus GROUP BY word ORDER BY word``.

    ``group_cols`` adds per-file-analog grouping (the stale sequential
    binary's per-first-file semantics generalized: reference SURVEY.md §0.3).
    """
    docs = load_table(spark, sf_dir, "documents")
    keys = [*(group_cols or []), "word"]
    return count_words(docs, mode=mode, group_cols=group_cols).orderBy(*keys)


def ranked_word_count(spark: SparkSession, sf_dir: str, mode: str = "head") -> DataFrame:
    """Word count with the reference's 0-based ``[i]`` output rank.

    The reference prints ``[i] word: count`` (``omp.cpp:219-223``). A global
    ``row_number()`` window forces one partition; at scale we instead sort,
    then derive each row's global index from per-partition row counts
    (zipWithIndex on the sorted DataFrame) — distributed, one extra tiny job
    to count partition sizes.
    """
    counts = word_count(spark, sf_dir, mode=mode)
    sorted_rdd = counts.rdd  # already range-partitioned + sorted by orderBy
    indexed = sorted_rdd.zipWithIndex().map(
        lambda pair: (int(pair[1]), pair[0]["word"], int(pair[0]["cnt"]))
    )
    return indexed.toDF(["rank_idx", "word", "cnt"])


def word_count_totals(spark: SparkSession, sf_dir: str, mode: str = "head") -> DataFrame:
    """The two scalar outputs: total kept words and distinct words.

    Reference: ``total_words`` atomic counter (``omp.cpp:77-78``,
    ``MPI_Reduce`` at ``hybrid.cpp:424-426``) and ``counts.size()``
    (``hybrid.cpp:450``). One pass: sum + count over the grouped result.
    """
    counts = word_count(spark, sf_dir, mode=mode)
    return counts.agg(
        F.sum("cnt").alias("total_words"),
        F.count("*").alias("unique_words"),
    )

