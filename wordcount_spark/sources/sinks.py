"""Sinks mirroring the reference's output surfaces.

The reference has two: sorted stdout with a ``[i] word: count`` rank prefix
(``omp.cpp:219-223``) and a rank-0 file sink that adds a ``Unique words
found: N`` line (``hybrid.cpp:445-454`` — file instead of stdout because of
cluster IO limits, a pathology we keep out of the data path: BASELINE.md
shows 99.6% of the reference's runtime was stdout writes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def reference_lines(
    counts: DataFrame, header_file: str, keys: list[str], unique_line: bool = False
) -> DataFrame:
    """The reference's output lines, in order, as one ``value`` column in
    one partition: one plan, one scan of ``counts``' input, no Python worker.

    ``counts`` has ``keys`` plus ``cnt``; lines rank by ``keys`` (byte order)
    and label with ``keys`` joined by ``/`` (``--per-file``: source first,
    then word). The header is ``Filename: <argv[1]>, total words: N``
    (stdout, ``omp.cpp:220``), or ``Filename:`` then ``Unique words found:
    N`` (file sink, ``unique_line=True``). Header rows are keyed below every
    rank and unioned with the counts; the rank, total and unique count are
    window functions over the one partition that union sorts into. The
    output is a single ordered file or stream, so one writer is inherent —
    the reference gathers to rank 0 too (``hybrid.cpp:235-267``), and the
    rows are vocabulary-sized, post-aggregation. ``wordcount_ranked`` keeps
    its distributed rank (``operators/wordcount.py::ranked_word_count``).
    """
    name = F.lit(f"Filename: {header_file}")
    h, cnt, every = F.col("__h"), F.col("cnt"), Window.partitionBy()
    if unique_line:
        header = [name, F.concat(F.lit("Unique words found: "), F.count(cnt).over(every))]
    else:
        total = F.coalesce(F.sum(cnt).over(every), F.lit(0))
        header = [F.concat(name, F.lit(", total words: "), total)]
    rank = F.row_number().over(Window.orderBy(h, *keys)) - (len(header) + 1)
    value = F.concat(F.lit("["), rank, F.lit("] "), F.concat_ws("/", *keys), F.lit(": "), cnt)
    for i, line in enumerate(header):
        value = F.when(h == i - len(header), line).otherwise(value)
    rows = counts.select(F.lit(0).cast("long").alias("__h"), *keys, "cnt").unionByName(
        counts.sparkSession.range(-len(header), 0, 1, 1).withColumnRenamed("id", "__h"),
        allowMissingColumns=True,
    )
    return rows.select(value.alias("value"))


def write_reference_output(lines: DataFrame, out_path: str) -> None:
    """Write ``reference_lines`` as the hybrid-style output file: its one
    partition becomes one ``part-*`` file, lines in order."""
    lines.write.text(out_path)
