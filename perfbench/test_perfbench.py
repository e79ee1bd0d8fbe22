"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

import checks
import gen
import run
from probe import metric_total
from tests.conftest import _TABLES

REPO = Path(__file__).resolve().parent.parent
SMALL = gen.CorpusSpec(n_tokens=6_000, vocab=400, files=3)
PUNCT = set(b"!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~")


def _normalize(token: bytes) -> bytes:
    """The reference's ``process_word`` on an ASCII token, one byte at a time."""
    lo, hi = 0, len(token)
    while lo < hi and token[lo] in PUNCT:
        lo += 1
    while hi > lo and token[hi - 1] in PUNCT:
        hi -= 1
    return token[lo:hi].lower()


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = gen.corpus(SMALL, 7, tmp_path / "a")
    b = gen.corpus(SMALL, 7, tmp_path / "b")
    c = gen.corpus(SMALL, 8, tmp_path / "c")
    read = lambda corpus: [Path(f).read_bytes() for f in corpus.files]  # noqa: E731
    assert read(a) == read(b)
    assert read(a) != read(c)
    assert np.array_equal(a.words, b.words) and np.array_equal(a.counts, b.counts)


def test_corpus_cache_is_reused(tmp_path):
    first = gen.corpus(SMALL, 7, tmp_path)
    Path(first.files[0]).write_bytes(b"marker\n")
    assert Path(gen.corpus(SMALL, 7, tmp_path).files[0]).read_bytes() == b"marker\n"


def test_expected_counts_match_a_per_token_count(tmp_path):
    corpus = gen.corpus(SMALL, 3, tmp_path)
    counts: dict[bytes, int] = {}
    for f in corpus.files:
        for token in Path(f).read_bytes().split():
            word = _normalize(token)
            if word:
                counts[word] = counts.get(word, 0) + 1
    assert list(corpus.words) == sorted(counts)
    assert corpus.counts.tolist() == [counts[w] for w in sorted(counts)]
    assert corpus.total_words == SMALL.n_tokens


def test_corpus_has_decorations_and_whole_lines(tmp_path):
    corpus = gen.corpus(SMALL, 3, tmp_path)
    text = b"".join(Path(f).read_bytes() for f in corpus.files)
    assert re.search(rb"[A-Z]", text) and re.search(rb"[,.!\"]", text)
    assert all(Path(f).read_bytes().endswith(b"\n") for f in corpus.files)


def test_star_schema_is_a_function_of_the_seed(tmp_path):
    a = gen.star_schema(0.001, 5, tmp_path / "a")
    b = gen.star_schema(0.001, 5, tmp_path / "b")
    c = gen.star_schema(0.001, 6, tmp_path / "c")
    for t in _TABLES:
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet"))
    assert not pq.read_table(a / "lineitem.parquet").equals(pq.read_table(c / "lineitem.parquet"))
    assert pq.read_table(a / "lineitem.parquet").num_rows == 6_000


def test_star_schema_has_near_duplicate_documents(tmp_path):
    docs = pq.read_table(gen.star_schema(0.01, 5, tmp_path) / "documents.parquet").to_pydict()
    texts = set(docs["text"])
    dups = [t for t in docs["text"] if t.endswith(" dup")]
    assert len(dups) == len(docs["text"]) // 20
    # a copy whose source was itself overwritten later has no base left
    assert sum(t.removesuffix(" dup") in texts for t in dups) >= 0.9 * len(dups)
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_copy_of_keeps_the_bytes_under_another_path(tmp_path):
    src = gen.star_schema(0.001, 5, tmp_path)
    copy = gen.copy_of(src, "x")
    assert copy != src and gen.copy_of(src, "x") == copy
    assert all((copy / p.name).read_bytes() == p.read_bytes() for p in src.iterdir())
    assert checks.oracle_rows("SELECT * FROM nation", copy) == 25


def _ranked_lines(corpus: gen.Corpus, header: str) -> list[str]:
    return [f"Filename: {header}", f"Unique words found: {corpus.unique_words}"] + [
        f"[{i}] {w.decode()}: {c}" for i, (w, c) in enumerate(zip(corpus.words, corpus.counts))
    ]


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda ls: ls[1:],  # header line missing
        lambda ls: ls[:2] + ls[3:],  # a rank missing
        lambda ls: ls[:2] + [ls[3], ls[2]] + ls[4:],  # not in byte order
        lambda ls: ls[:-1] + [ls[-1].rsplit(": ", 1)[0] + ": 999999"],  # wrong count
        lambda ls: [ls[0], "Unique words found: 1"] + ls[2:],  # wrong unique count
    ],
)
def test_ranked_output_check_rejects_corruption(tmp_path, corrupt):
    corpus = gen.corpus(SMALL, 3, tmp_path / "in")
    out = tmp_path / "out"
    out.mkdir()
    lines = _ranked_lines(corpus, "f.txt")
    (out / "part-00000").write_text("\n".join(lines) + "\n")
    assert checks.ranked_output(out, "f.txt", corpus) == []
    (out / "part-00000").write_text("\n".join(corrupt(lines)) + "\n")
    assert checks.ranked_output(out, "f.txt", corpus)


def test_oracle_check_compares_sorted_columns_and_rows(tmp_path):
    sf = gen.star_schema(0.001, 5, tmp_path)
    sql = "SELECT r_regionkey AS k, r_name AS name FROM region"
    rows = [{"name": n, "k": k} for k, n in enumerate(gen.REGIONS)]
    assert checks.matches_oracle(rows[::-1], ["name", "k"], sql, sf) == []
    assert checks.matches_oracle(rows[1:], ["name", "k"], sql, sf)
    assert checks.matches_oracle(rows[:-1] + [{"name": "X", "k": 4}], ["name", "k"], sql, sf)
    assert checks.matches_oracle(rows, ["name", "key"], sql, sf)
    assert checks.oracle_rows(sql, sf) == 5


@pytest.mark.parametrize(
    "text, value",
    [
        ("7,990", 7990),
        ("0.0 B", 0),
        ("64.2 MiB", 64.2 * 2**20),
        ("20 ms", 0.02),
        ("total (min, med, max (stageId: taskId))\n128.5 MiB (64.2 MiB, 64.2 MiB)", 128.5 * 2**20),
        ("total (min, med, max (stageId: taskId))\n3.5 s (756 ms, 937 ms)", 3.5),
    ],
)
def test_sql_metric_text_is_parsed(text, value):
    assert metric_total(text) == pytest.approx(value)


def test_benchmark_json_matches_the_metrics_the_benchmark_prints():
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    name_ok = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit_ok = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        m[:3] for m in run.PER_LAYER
    ]
    metrics = bench["end_to_end"] + bench["per_layer"]
    assert all(name_ok.match(m["name"]) and unit_ok.match(m["unit"]) for m in metrics)
    assert len({m["name"] for m in metrics}) == len(metrics)
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert all(name_ok.match(w["name"]) for w in bench["workloads"])
