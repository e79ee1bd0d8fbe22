"""CLI parity: `python -m wordcount_spark <files...>` reproduces the
reference binaries' output format and semantics (in-process with the
shared session — a subprocess would pay a second JVM boot)."""

from __future__ import annotations

import glob
import re

import pytest

import wordcount_spark.sources.sinks as sinks
from wordcount_spark.__main__ import main
from wordcount_spark.plans.explain import formatted_plan


@pytest.fixture()
def corpus(tmp_path):
    a = tmp_path / "a.txt"
    b = tmp_path / "b.txt"
    a.write_text('The quick "quoted" fox... the END.\n')
    b.write_text("the lazy dog, the\n")
    return [str(a), str(b)]


def test_cli_stdout_format(spark, corpus, capsys):
    assert main(corpus, spark=spark) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == f"Filename: {corpus[0]}, total words: 10"
    # global aggregation across both files, sorted, 0-based rank
    assert out[1:] == [
        "[0] dog: 1",
        "[1] end: 1",
        "[2] fox: 1",
        "[3] lazy: 1",
        "[4] quick: 1",
        "[5] quoted: 1",
        "[6] the: 4",
    ]


def test_cli_file_sink_with_unique_line(spark, corpus, tmp_path, capsys):
    out_dir = str(tmp_path / "hybrid_out")
    assert main([*corpus, "--out", out_dir], spark=spark) == 0
    part = [
        line
        for line in spark.read.text(out_dir).orderBy("value").collect()
    ]
    text = "\n".join(r.value for r in part)
    assert f"Filename: {corpus[0]}" in text
    assert "Unique words found: 7" in text
    assert "[6] the: 4" in text


def test_cli_per_file_grouping(spark, corpus, capsys):
    assert main([*corpus, "--per-file"], spark=spark) == 0
    out = capsys.readouterr().out.splitlines()
    # per-source blocks: a.txt words precede b.txt words (sorted by source)
    a_name, b_name = "a.txt", "b.txt"
    joined = "\n".join(out)
    assert f"{a_name}/the: 2" in joined
    assert f"{b_name}/the: 2" in joined


def _file_lines(out_dir: str) -> list[str]:
    parts = sorted(glob.glob(out_dir + "/part-*"))
    return "".join(open(p).read() for p in parts).splitlines()


def test_cli_no_words_still_prints_header(spark, tmp_path, capsys):
    # every token normalizes to "": the header lines survive with zeros
    p = tmp_path / "punct.txt"
    p.write_text(" ... !!! ,,\n\n  \t\n")
    assert main([str(p)], spark=spark) == 0
    assert capsys.readouterr().out.splitlines() == [f"Filename: {p}, total words: 0"]
    out_dir = str(tmp_path / "out")
    assert main([str(p), "--out", out_dir], spark=spark) == 0
    assert _file_lines(out_dir) == [f"Filename: {p}", "Unique words found: 0"]


def test_cli_per_file_ranks_by_source_then_word(spark, tmp_path):
    # as labels "a.txt-b/alpha" < "a.txt/zeta" ('-' sorts before '/'), but
    # the rank orders by source first, then word
    a, b = tmp_path / "a.txt", tmp_path / "a.txt-b"
    a.write_text("zeta\n")
    b.write_text("alpha\n")
    out_dir = str(tmp_path / "out")
    assert main([str(a), str(b), "--per-file", "--out", out_dir], spark=spark) == 0
    assert _file_lines(out_dir) == [
        f"Filename: {a}",
        "Unique words found: 2",
        "[0] a.txt/zeta: 1",
        "[1] a.txt-b/alpha: 1",
    ]


def test_cli_output_plan_scans_corpus_once(spark, corpus, tmp_path, monkeypatch):
    # rank, total and unique count all come from the one scan; a second
    # branch over the counts (e.g. a union of ranked.agg(count)) would read
    # the corpus again
    plans = []
    write = sinks.write_reference_output

    def record(lines, out_path):
        plans.append(formatted_plan(lines))
        write(lines, out_path)

    monkeypatch.setattr(sinks, "write_reference_output", record)
    assert main([*corpus, "--out", str(tmp_path / "out")], spark=spark) == 0
    assert len(plans) == 1
    assert len(re.findall(r"^\(\d+\) Scan text", plans[0], re.M)) == 1
