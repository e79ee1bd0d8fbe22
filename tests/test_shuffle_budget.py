"""Shuffle budget: every bench headline query's physical plan must stay
within its expected Exchange count. An extra shuffle is invisible to
row-level tests and cheap at sf0.001 — at 100 TB it's the difference
between one pass over the data and two."""

from __future__ import annotations

import re

import pytest

from wordcount_spark.plans.explain import formatted_plan

# max number of Exchange operators (shuffles) each headline plan may have:
# measured at sf0.001 plus one of headroom (plans are size-dependent — AQE
# broadcasts small sides at tiny SF, so larger SFs may add one join
# exchange). Queries whose LOW count is the design guarantee get no slack.
SHUFFLE_BUDGET = {
    "wordcount": 4,  # fan-out repartition + vocab agg + word agg + sort
    "wordcount_per_source": 4,
    "q1_pricing_summary": 2,  # one agg exchange + result sort
    "q3_shipping_priority": 3,  # fact-fact join + agg (top-k needs no sort)
    "q9_pseudo_profit": 2,  # lineitem⋈orders + agg (dims broadcast; one-task sort)
    "q21_waiting_suppliers": 6,  # join + 2-level agg + join-back + agg + sort
    "window_session": 3,  # session agg + sort
    "events_funnel": 3,  # user agg + sort
    "asof_join_last_order": 4,
    "text_tfidf_top_terms": 6,
    "text_quality_score": 1,  # map-only + output sort — the guarantee
    "similarity_topk_bruteforce": 0,  # broadcast + TakeOrdered: NO shuffle
    "similarity_multiquery_topk": 3,  # prune scan + rescore window
    "pipeline_curation": 10,  # 4-stage composite (min_by dedup, no join-back)
    "dedup_incremental_antijoin": 3,  # hash both sides + output sort
    "events_path_mining": 2,  # user-day agg + path histogram (limit, no sort)
    "events_retention_cohorts": 5,  # distinct + first-day agg + matrix agg + sort
    "text_unigram_logprob": 5,  # vocab agg + 1-row total + doc agg + sort
    "split_train_holdout_groups": 3,  # split agg (partial/final) + sort
    "multimodal_resize": 2,  # mapInPandas + output sort
    "udtf_token_runs": 2,  # UDTF generate + output sort
    "cdc_upsert_latest_state": 4,  # 2 window sorts + full-outer merge + sort
    # single-pass scd2: two window exchanges + output sort (the 4-branch
    # union formulation re-planned the shared frames to 8 exchanges)
    "cdc_scd2_history": 4,
}


def _registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def pytest_generate_tests(metafunc):
    if "budget_query" in metafunc.fixturenames:
        metafunc.parametrize("budget_query", sorted(SHUFFLE_BUDGET))


def test_pretrain_survivor_ids_materialized_once(spark):
    """VERDICT r5 item 2: pipeline_pretrain_full's survivor-id table
    feeds two concurrent consumers (the broadcast mixture-rate branch and
    the sampled-id semi-join); a merely-cached frame raced by both was
    recomputed — scale_check measured the same ~22 MB-exchange stage
    TWICE at 200×. The frame is now localCheckpointed at build time, so
    the consuming plan must scan the materialized RDD and carry NO trace
    of the content-hash aggregation — with the computation gone from the
    plan, no scheduling order can run it a second time."""
    df = _registry()["pipeline_pretrain_full"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert "text_md5" not in plan, (
        "survivor aggregation leaked back into the consuming plan — the "
        "concurrent-branch recompute race is open again:\n" + plan[:2000]
    )
    assert "Scan ExistingRDD" in plan, "survivor ids no longer checkpointed"


def test_shuffle_budget(spark, budget_query):
    df = _registry()[budget_query](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    # the formatted plan shows each operator in the tree AND the detail
    # listing; count only the numbered detail entries
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    budget = SHUFFLE_BUDGET[budget_query]
    assert n_exchanges <= budget, (
        f"{budget_query}: {n_exchanges} exchanges > budget {budget}\n{plan[:2000]}"
    )
