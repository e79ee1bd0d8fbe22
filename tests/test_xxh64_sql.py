"""Differential test: the generated DuckDB XXH64 pipeline must reproduce
Spark's ``xxhash64`` bit-for-bit — empty/short strings, every tail-length
class (8/4/byte boundaries), ≥32-byte stripe inputs, and multi-byte
UTF-8. This is the foundation every MinHash+LSH oracle stands on
(``queries_dedup._minhash_sql``: the EXACT production hash, not a
portable stand-in)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from wordcount_spark.operators.xxh64_sql import xxh64_pipeline_sql

CASES = [
    "",
    "a",
    "ab",
    "abc",
    "abcd",
    "abcde",
    "abcdef",
    "abcdefg",
    "hello wo",          # exactly one 8-byte word
    "hello wor",         # 8-byte word + 1 byte
    "hello world!",      # 8-byte word + 4-byte word
    "x" * 31,            # longest no-stripe input
    "y" * 32,            # exactly one stripe
    "q" * 33,            # stripe + byte
    "w" * 64,            # two stripes
    "z" * 67,            # stripes + tail
    "tëst✓",             # multi-byte UTF-8
    "日本語のテキストですこれは長い文字列",  # ≥32 UTF-8 bytes
]


def test_duckdb_xxh64_matches_spark(spark):
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(c,) for c in CASES], ["s"])
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE v(tok VARCHAR)")
    con.executemany("INSERT INTO v VALUES (?)", [(c,) for c in CASES])
    sql = xxh64_pipeline_sql("SELECT tok FROM v")
    rows = con.execute(f"SELECT tok, h64, th FROM ({sql})").fetchall()
    assert len(rows) == len(CASES)
    for tok, h64, th in rows:
        assert h64 == got[tok], f"xxh64 mismatch for {tok!r}"
        assert th == ((h64 % 2147483647) + 2147483647) % 2147483647


def test_fold_range():
    """th must land in [0, P) for hashes of either sign."""
    con = duckdb.connect()
    con.execute("CREATE TABLE v(tok VARCHAR)")
    con.executemany(
        "INSERT INTO v VALUES (?)", [(f"tok{i}",) for i in range(200)]
    )
    sql = xxh64_pipeline_sql("SELECT tok FROM v")
    lo, hi = con.execute(f"SELECT min(th), max(th) FROM ({sql})").fetchone()
    assert 0 <= lo and hi < 2147483647


@pytest.mark.parametrize("n", [7, 8, 9, 15, 16, 31, 32, 39, 40, 63, 64, 100])
def test_length_boundaries(spark, n):
    """Every word/stripe boundary length agrees (the classic off-by-one
    surface of a hand-rolled hash port)."""
    s = "abcdefghij" * 10
    probe = s[:n]
    want = (
        spark.createDataFrame([(probe,)], ["s"])
        .select(F.xxhash64("s").alias("h"))
        .collect()[0]["h"]
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE v(tok VARCHAR)")
    con.execute("INSERT INTO v VALUES (?)", [probe])
    sql = xxh64_pipeline_sql("SELECT tok FROM v")
    (got,) = con.execute(f"SELECT h64 FROM ({sql})").fetchone()
    assert got == want
