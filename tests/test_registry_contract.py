"""Driver-contract guard: every registered query runs, and every query with
an oracle hash-matches DuckDB at the oracle SF — mirrors the driver's
CORRECTNESS check so breakage shows up in pytest first."""

from __future__ import annotations

import os

import pytest

from tests.conftest import assert_matches_oracle

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _registry():
    import __spark_entry__ as entrymod

    return entrymod.queries(), entrymod.oracle_sql()


def pytest_generate_tests(metafunc):
    if "query_name" in metafunc.fixturenames:
        queries, _ = _registry()
        metafunc.parametrize("query_name", sorted(queries))


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == ["word", "cnt"]


def test_query_matches_oracle(spark, query_name):
    queries, oracles = _registry()
    df = queries[query_name](spark, ORACLE_SF_DIR)
    if query_name in oracles:
        assert_matches_oracle(df, oracles[query_name], ORACLE_SF_DIR)
    else:
        assert df.count() >= 0  # rows-only check (driver's weaker gate)


def test_every_query_has_oracle_or_is_flagged():
    queries, oracles = _registry()
    missing = sorted(set(queries) - set(oracles))
    # Non-SQL-expressible ops, listed consciously. Eager (streaming /
    # iterative) queries carry oracles too: the final state of a finite
    # replay is SQL-expressible, and only the PCA below is not.
    rows_only = {
        "agg_approx_sketches",
        "embedding_pca_variance",  # eager: driver-side numpy eigendecomposition
        "events_hll_rollup",  # DataSketches HLL internals are engine-specific
        "sample_fraction",
    }
    assert set(missing) == rows_only, f"queries without oracle: {missing}"


def test_shared_oracles_are_streaming_twins_with_replay_tests():
    """Two queries under one oracle SQL prove one result. That is allowed
    only for a streaming twin reusing its batch twin's oracle, and only
    when the twin's docstring names the multi-batch replay test in
    tests/test_streaming.py that pins what it adds: incremental state."""
    import re
    from collections import defaultdict

    from wordcount_spark import registry

    registry._load_all()
    replay_tests = open(
        os.path.join(os.path.dirname(__file__), "test_streaming.py")
    ).read()
    groups = defaultdict(list)
    for name, sql in registry.ORACLES.items():
        groups[" ".join(sql.split())].append(name)
    for names in (g for g in groups.values() if len(g) > 1):
        twins = [
            n for n in names
            if registry.QUERIES[n].__module__.endswith(".queries_streaming")
        ]
        assert len(names) - len(twins) == 1, f"one oracle, several queries: {names}"
        for n in twins:
            m = re.search(
                r"test_streaming\.py::(test_\w+_slicing)\b",
                registry.QUERIES[n].__doc__ or "",
            )
            assert m and re.search(rf"^def {m.group(1)}\(", replay_tests, re.M), (
                f"streaming twin {n} names no multi-batch replay test"
            )


# The driver-sample rotation invariants (sentinels valid, unseen queries
# fill the graded window mechanically, new registrations rotate in) live in
# tests/test_registry_rotation.py.
