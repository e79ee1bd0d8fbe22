"""Output checks. Each returns a list of problems; empty means correct.

The word-count check compares with the counts the generator recorded. The
query checks use the repository's own oracle helpers in
``tests/conftest.py``: the DuckDB views the oracle runs on and the strict
mode of ``assert_matches_oracle`` (``collect()`` against ``fetchall()``).
Its driver/pandas mode, which runs every query a second time, is left to
the repository's tests.
"""

from __future__ import annotations

from pathlib import Path

from gen import Corpus
from tests.conftest import _compare, _duck_con


def ranked_output(out_dir: Path, header_file: str, corpus: Corpus) -> list[str]:
    """The CLI ``--out`` file: ``Filename:`` and ``Unique words found:``
    header lines, then ``[i] word: count`` with contiguous 0-based ranks in
    byte order of ``word``, with the expected counts."""
    parts = sorted(Path(out_dir).glob("part-*"))
    lines = b"".join(p.read_bytes() for p in parts).decode("ascii").splitlines()
    want = [f"Filename: {header_file}", f"Unique words found: {corpus.unique_words}"]
    if lines[:2] != want:
        return [f"header {lines[:2]!r} != {want!r}"]
    body = lines[2:]
    if len(body) != corpus.unique_words:
        return [f"{len(body)} ranked lines, expected {corpus.unique_words}"]
    for i, line in enumerate(body):
        rank, _, rest = line.partition("] ")
        word, _, cnt = rest.rpartition(": ")
        if rank != f"[{i}":
            return [f"line {i + 2} has rank {rank}]"]
        if word.encode("ascii") != corpus.words[i] or int(cnt) != corpus.counts[i]:
            return [
                f"line {i + 2} is {line!r}, expected "
                f"[{i}] {corpus.words[i].decode()}: {corpus.counts[i]}"
            ]
    return []


def matches_oracle(rows, columns: list[str], sql: str, sf_dir: Path) -> list[str]:
    """Collected rows with their column names against the oracle SQL over
    the same tables: column names sorted, rows order-insensitive, values
    compared as ``str``."""
    cols = sorted(columns)
    con = _duck_con(str(sf_dir))
    try:
        res = con.execute(sql)
        duck_cols = [d[0] for d in res.description]
        if sorted(duck_cols) != cols:
            return [f"column mismatch: spark={cols} duck={sorted(duck_cols)}"]
        reorder = [duck_cols.index(c) for c in cols]
        duck = [tuple(r[i] for i in reorder) for r in res.fetchall()]
    finally:
        con.close()
    spark = [tuple(row[c] for c in cols) for row in rows]
    try:
        _compare(spark, duck, "strict")
    except AssertionError as e:
        return [str(e).splitlines()[0]]
    return []


def oracle_rows(sql: str, sf_dir: Path) -> int:
    con = _duck_con(str(sf_dir))
    try:
        return con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
    finally:
        con.close()
