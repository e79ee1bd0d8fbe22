"""Plans that leave the join and sort choices to the engine.

The triangle count carries no broadcast hint and counts nothing at build
time: AQE picks its joins from the real size of the one cache stage all
three closing-join inputs read. A second pin on the edge side brings back
the shape where that side's ``hashpartitioning(src)`` exchange runs
before AQE knows the adjacency is small. The heavy-hitter and degree
histogram results are O(groups) and end in ``relational.sort_small``.
``assert_matches_oracle`` compares rows as sets, so the ORDER BY order is
checked here."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _final_operators(df) -> list:
    """Every operator of ``df``'s final adaptive plan, through its query
    stages but not into the plans that fill its cache stages."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        out.append(node)
        if name.endswith("QueryStage") and name != "TableCacheQueryStage":
            todo.append(node.plan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out


def test_triangle_joins_broadcast_from_one_cache_stage(spark):
    from wordcount_spark.registry import get_queries

    df = get_queries()["graph_triangle_count"](spark, SF_DIR)
    df.collect()
    nodes = _final_operators(df)
    ops = [n.simpleString(25) for n in nodes]
    joins = [op for op in ops if "Join" in op and "NestedLoop" not in op]
    assert joins and all(op.startswith("BroadcastHashJoin") for op in joins), joins
    shuffled = [op for op in ops if "hashpartitioning(src" in op]
    assert not shuffled, f"edge side shuffles before AQE sees the adjacency: {shuffled}"
    # the closing joins read the adjacency alone, the wedge count the
    # degree table: a third cached frame is a separate edge pin
    caches = {
        n.plan().relation().cacheBuilder().cachedPlan().id()
        for n in nodes
        if n.nodeName() == "TableCacheQueryStage"
    }
    assert len(caches) == 2, f"final plan reads {len(caches)} cached frames"


#: query -> its ORDER BY key over a collected row
ORDERED = {
    "text_heavyhitters_twopass": lambda r: (-r["cnt"], r["tok"]),
    "graph_degree_distribution": lambda r: r["degree"],
}


@pytest.mark.parametrize("name", sorted(ORDERED))
def test_small_result_sorted_in_one_task(spark, name):
    from wordcount_spark.registry import get_queries

    df = get_queries()[name](spark, SF_DIR)
    keys = [ORDERED[name](r) for r in df.collect()]
    assert keys and keys == sorted(keys), f"{name} rows are not in ORDER BY order"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, f"{name} sorts through a range exchange"
