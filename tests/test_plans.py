"""Physical-plan assertions: the plans that must survive a 100x scale-up.

Row-level tests can't catch a lost filter pushdown or a broadcast that
silently became a shuffle — these do.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wordcount_spark.operators.queries_relational import (
    join_broadcast_dims,
    order_limit_topk,
    q1_pricing_summary,
    q3_shipping_priority,
)
from wordcount_spark.operators.wordcount import word_count
from wordcount_spark.plans.explain import formatted_plan
from wordcount_spark.sources.readers import load_table


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = formatted_plan(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 7 referenced columns — not the full 11
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q1_partial_final_agg_split(spark, sf_dir):
    plan = formatted_plan(q1_pricing_summary(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial before, final after
    assert "partial_sum" in plan
    assert "hashpartitioning(l_returnflag" in plan


def test_dims_are_broadcast(spark, sf_dir):
    plan = formatted_plan(join_broadcast_dims(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan  # no fact-side shuffle for dim joins


def test_q3_broadcasts_filtered_customer(spark, sf_dir):
    plan = formatted_plan(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = formatted_plan(order_limit_topk(spark, sf_dir))
    # TakeOrderedAndProject = per-partition heaps + merge, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_wordcount_partial_agg_before_exchange(spark, sf_dir):
    plan = formatted_plan(word_count(spark, sf_dir))
    # map-side combine (the reference's omp.cpp:113-115 'combiner') is
    # planned as partial_count before the word exchange
    assert "partial_count" in plan
    assert "hashpartitioning(word" in plan


def test_wordcount_reads_only_text_column(spark, sf_dir):
    plan = formatted_plan(word_count(spark, sf_dir))
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in read_schema
    assert "lang" not in read_schema and "doc_id" not in read_schema


def test_whole_stage_codegen_covers_wordcount(spark, sf_dir):
    # normalize+filter+partial-agg must run inside codegen (JVM, no Python).
    # executedPlan's compact form marks codegen stages with a '*(n)' prefix.
    df = word_count(spark, sf_dir)
    df.collect()  # AQE: codegen markers appear once stages are final
    codegen_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in codegen_plan
    assert "HashAggregate" in codegen_plan


def test_scan_partition_pruning_on_filter(spark, sf_dir):
    # a filter on a scanned column must reach the parquet reader
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    plan = formatted_plan(li)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in plan


def test_metrics_side_channel(spark, sf_dir):
    # reference parity: stage metrics to stderr (omp.cpp:227-230) — here the
    # Observation API measures in-flight, no second pass
    from wordcount_spark.operators.wordcount import word_count
    from wordcount_spark.plans.metrics import run_with_metrics

    m = run_with_metrics(word_count(spark, sf_dir), "wordcount")
    assert set(m) == {"label", "wall_s", "rows", "codegen_compiles", "jobs"}
    assert m["rows"] > 0 and m["wall_s"] > 0 and m["jobs"] > 0
    # the same plan again hits the codegen cache: nothing recompiles
    assert run_with_metrics(word_count(spark, sf_dir), "wordcount")["codegen_compiles"] == 0


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """A selective filter on one side of a shuffle join should inject a
    runtime bloom filter (`might_contain`) on the fact side — Spark's
    answer to partition-elimination for non-partition join keys. At real
    scale the 10 GB application-side threshold triggers on its own; locally
    we lower it to 0 to pin the mechanism."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = formatted_plan(j)
        assert "might_contain" in plan, "runtime bloom filter not injected"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_shuffle_hash_hint_plans_shj(spark, sf_dir):
    """join_shuffle_hash must plan a ShuffledHashJoin (not SortMergeJoin,
    not a broadcast) — the hint pins the middle join strategy."""
    from wordcount_spark.registry import get_queries

    plan = formatted_plan(get_queries()["join_shuffle_hash"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan
