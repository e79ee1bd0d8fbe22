"""The perfbench headline queries return O(groups) results, and at small
scale their cost is per Spark job, not per row. Each ends in a one-task
sort (``relational.sort_small``) instead of a global ``orderBy`` (no
range-sampling job, no range exchange), and reads its shared O(groups)
state from one aggregate instead of a cache pin fanned out to several
branches. ``assert_matches_oracle`` compares rows as sets, so the order
the ORDER BY promises is checked here."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

#: query -> (its ORDER BY keys, most jobs one action may run)
HEADLINE = {
    "q9_pseudo_profit": (("nationkey", "o_year"), 5),
    "events_gapfill_hourly": (("bucket_hour", "event_type"), 3),
    "pipeline_pretrain_full": (("lang", "split"), 8),
}


@pytest.mark.parametrize("name", sorted(HEADLINE))
def test_headline_sorted_in_few_jobs(spark, name):
    from wordcount_spark.plans.metrics import run_with_metrics
    from wordcount_spark.registry import get_queries

    keys, max_jobs = HEADLINE[name]
    df = get_queries()[name](spark, SF_DIR)
    jobs = run_with_metrics(df, name)["jobs"]
    rows = [tuple(r[k] for k in keys) for r in df.collect()]
    assert rows and rows == sorted(rows), f"{name} rows are not in ORDER BY order"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, f"{name} sorts through a range exchange"
    assert "InMemoryRelation" not in plan, f"{name} reads a cache pin"
    assert jobs <= max_jobs, f"{name} ran {jobs} jobs in one action (at most {max_jobs})"
