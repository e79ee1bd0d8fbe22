"""Cache pins are scoped to the query that made them.

Query functions return lazy frames and cannot unpersist after the
consuming job, so every shared-frame pin in package source goes through
``operators/caching.bounded_cache`` (the static scan below), and
``registry.get_queries()`` releases those pins (and the eager
``localCheckpoint``s of ``caching.bounded_checkpoint``) before each
build. No pin survives into the next query, so Spark's CacheManager cannot substitute
one query's cached fragment into another's plan: a plan no longer
depends on which queries ran before it in the session.
"""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "wordcount_spark")


def test_no_raw_cache_outside_caching_module():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py") or f == "caching.py":
                continue
            path = os.path.join(root, f)
            src = open(path).read()
            for i, line in enumerate(src.split("\n"), start=1):
                code = line.split("#")[0]
                # .persist( is the same pin with a storage-level arg —
                # catching only .cache() would leave the loophole open
                if ".cache()" in code or (
                    ".persist(" in code and ".unpersist(" not in code
                ):
                    offenders.append(f"{path}:{i}")
    assert not offenders, (
        "raw .cache() pins outlive their query — route through "
        f"operators/caching.bounded_cache instead: {offenders}"
    )


@pytest.mark.parametrize(
    "leaker, target",
    [
        # the hourly aggregate pin dropped interpolate's pushdown
        ("events_resample_ffill", "events_resample_interpolate"),
        # the shingle pin replaced six scans and their pushed filters
        ("dedup_ngram_jaccard", "eval_minhash_jaccard_calibration"),
        # the adjacency pin moved the walk's shuffles
        ("graph_triangle_count", "graph_walks_deterministic"),
        # a minhash LSH pin added a scan
        ("dedup_minhash_lsh", "eval_lsh_candidate_recall"),
        # the per-language count pin replaced a scan and a shuffle
        ("mix_rebalance_to_min", "mix_temperature_weights"),
        # a renamed twin of the hourly pin came back under the wrong
        # column names
        ("events_gapfill_hourly", "events_rollup_multigrain"),
    ],
)
def test_plan_independent_of_previous_query(spark, leaker, target):
    """Built right after a query whose pin matches part of its plan (as
    in a registry sweep), the target still plans exactly as its committed
    cold signature."""
    from tools.gen_plan_signatures import plan_signature
    from wordcount_spark.plans.explain import formatted_plan
    from wordcount_spark.registry import get_queries

    base = json.load(open(os.path.join(REPO, "PLAN_SIGNATURES.json")))
    qs = get_queries()
    qs[leaker](spark, base["sf_dir"])
    sig = plan_signature(formatted_plan(qs[target](spark, base["sf_dir"])))
    assert sig == base["signatures"][target], (
        f"{target} built after {leaker} plans {sig}, not its committed "
        f"{base['signatures'][target]}: a pin of {leaker} outlived its build"
    )


def test_next_build_releases_pins(spark, sf_dir):
    """Sharing inside a query stays (ffill scans its pinned hourly
    aggregate), and the next registry build unpersists that pin.
    getPersistentRDDs also counts localCheckpoint RDDs, which are not
    pins, so the bound is on growth over a baseline."""
    from wordcount_spark.operators.caching import release_pins
    from wordcount_spark.plans.explain import formatted_plan
    from wordcount_spark.registry import get_queries

    qs = get_queries()
    release_pins()
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    start = persistent().size()
    ffill = qs["events_resample_ffill"](spark, sf_dir)
    ffill.count()
    assert "InMemoryTableScan" in formatted_plan(ffill)
    assert persistent().size() > start, "ffill's pin holds no blocks"
    qs["q1_pricing_summary"](spark, sf_dir)
    assert persistent().size() == start, (
        f"{persistent().size() - start} RDD(s) still pinned after the next build"
    )


@pytest.mark.parametrize("name", ["pipeline_pretrain_full", "text_heavyhitters_twopass"])
def test_checkpoints_released_with_pins(spark, name):
    """A build's eager localCheckpoint (``caching.bounded_checkpoint``)
    is released with its pins at the next build: repeated build-and-
    action cycles leave at most the last build's checkpoint persisted."""
    from wordcount_spark.registry import get_queries

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    qs = get_queries()
    for _ in range(3):
        qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    left = persisted() - before
    assert len(left) <= 1, f"{name} left {len(left)} persisted RDDs after 3 runs"
