"""Invariants for the iterative PageRank operator (the oracle already
pins exact values; these pin the mathematical shape)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wordcount_spark.operators.caching import bounded_cache
from wordcount_spark.registry import get_queries
from wordcount_spark.sources.readers import load_table


def test_pagerank_shape(spark):
    ranks = bounded_cache(get_queries()["graph_pagerank_parts"](spark, SF_DIR))
    n = load_table(spark, SF_DIR, "part").count()
    assert ranks.count() == n  # every part is a node, connected or not

    # all ranks positive, and isolated nodes sit exactly at (1-d)/N
    floor = round(0.15 / n, 6)
    assert ranks.where(F.col("rank") < floor).count() == 0

    po = (
        load_table(spark, SF_DIR, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    connected = (
        po.alias("a")
        .join(po.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("part_key"))
        .distinct()
    )
    isolated = ranks.join(connected, "part_key", "left_anti")
    assert isolated.where(F.col("rank") != floor).count() == 0

    # total rank mass stays bounded by 1 (simplified formulation leaks the
    # dangling mass, so it's strictly below 1 when isolated nodes exist)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert 0.5 < total <= 1.000001


def test_triangle_count_matches_naive_ordering(spark):
    """Differential check: the degree-oriented wedge-close count must equal
    the naive id-ordered formulation (join edges u<v<w directly) — two
    independent algorithms, one answer."""
    from wordcount_spark.operators.queries_graph import (
        _undirected_copurchase,
        graph_triangle_count,
    )

    row = graph_triangle_count(spark, SF_DIR).collect()[0]

    und = bounded_cache(_undirected_copurchase(spark, SF_DIR))
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    naive = (
        e1.join(
            e2,
            (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
        )
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .count()
    )
    assert row.n_triangles == naive
    if row.n_wedges:
        assert row.global_clustering == round(
            3.0 * row.n_triangles / row.n_wedges, 6
        )


def test_kcore_matches_python_peel(spark):
    """Differential check: the distributed iterative peel must produce the
    same k-core membership and in-core degrees as a single-threaded
    Python peel over the collected edge list."""
    from wordcount_spark.operators.queries_graph import (
        _KCORE_K,
        _undirected_copurchase,
        graph_kcore_members,
    )

    got = {
        r.node: r.core_degree
        for r in graph_kcore_members(spark, SF_DIR).collect()
    }

    edges = {
        (r.u, r.v) for r in _undirected_copurchase(spark, SF_DIR).collect()
    }
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        doomed = [n for n, nb in adj.items() if len(nb) < _KCORE_K]
        changed = bool(doomed)
        for n in doomed:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    expected = {n: len(nb) for n, nb in adj.items()}
    assert got == expected
    # sanity: the invariant that DEFINES a k-core
    assert all(d >= _KCORE_K for d in got.values()) or not got
