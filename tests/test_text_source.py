"""Reference-style source: raw text files → word count (the actual input
format of the reference, `run_tests.sh:7-9` glob over raw_text_input/)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wordcount_spark.operators.wordcount import words_from_text
from wordcount_spark.sources.readers import load_text_corpus
from wordcount_spark.sources.sinks import reference_lines, write_reference_output


def _corpus(tmp_path):
    (tmp_path / "a.txt").write_text("Hello, WORLD!! hello\n...dots... don't\n")
    (tmp_path / "b.txt").write_text("hello “quoted” café\n")
    return [str(tmp_path / "a.txt"), str(tmp_path / "b.txt")]


def test_multi_file_union_all(spark, tmp_path):
    paths = _corpus(tmp_path)
    df = load_text_corpus(spark, paths)
    counts = (
        words_from_text(df.select("text"))
        .groupBy("word")
        .count()
        .collect()
    )
    got = {r["word"]: r["count"] for r in counts}
    assert got == {"hello": 3, "world": 1, "dots": 1, "don't": 1, "quoted": 1, "caf": 1}


def test_per_file_counts(spark, tmp_path):
    # seq-binary semantics: counts scoped per input file (SURVEY.md §0.3)
    paths = _corpus(tmp_path)
    df = load_text_corpus(spark, paths)
    per_file = (
        words_from_text(df)
        .groupBy("source", "word")
        .count()
        .filter(F.col("word") == "hello")
        .collect()
    )
    got = {(r["source"], r["word"]): r["count"] for r in per_file}
    assert got == {("a.txt", "hello"): 2, ("b.txt", "hello"): 1}


def test_reference_file_sink(spark, tmp_path):
    paths = _corpus(tmp_path)
    df = load_text_corpus(spark, paths)
    counts = words_from_text(df.select("text")).groupBy("word").agg(F.count("*").alias("cnt"))
    out = str(tmp_path / "out")
    write_reference_output(reference_lines(counts, "a.txt", ["word"], unique_line=True), out)
    import glob

    parts = sorted(glob.glob(out + "/part-*"))
    assert len(parts) == 1
    lines = open(parts[0]).read().splitlines()
    assert lines[0] == "Filename: a.txt"
    assert lines[1] == "Unique words found: 6"
    assert lines[2] == "[0] caf: 1"
    assert lines[-1].startswith(f"[{len(lines) - 3}] ")
