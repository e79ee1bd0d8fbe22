"""Registry-wide plan audit: every registered query's physical plan is
scanned for scale smells. A CartesianProduct or an unintended
BroadcastNestedLoopJoin is a 100 TB outage regardless of row-level
correctness — this test makes plan regressions un-mergeable."""

from __future__ import annotations

import re

import pytest

from wordcount_spark.plans.explain import formatted_plan

# queries that intentionally join a 1-row broadcast side with no equi-key
# (query-vector fan-out, scalar-subquery threshold) — planned as
# BroadcastNestedLoopJoin on purpose, and must: an entry whose plan has
# none fails too
BNLJ_OK = {
    "similarity_topk_bruteforce",
    "similarity_binary_hamming_topk",  # 1-row broadcast query-signature fan-out
    "similarity_knn_classify",  # 5-row broadcast query-vector fan-out
    "pipeline_rag_corpus",  # 3-row broadcast query-vector fan-out
    "similarity_ivf_topk",
    # 1-row broadcast query-vector fan-out onto the ADC candidate scan
    # and the O(50) re-rank frame (frozen-codebook PQ search)
    "similarity_pq_topk",
    "q22_sales_opportunity",
    "q11_important_stock",
    "text_unigram_logprob",
    # dense-grid spine: (time-span × |event_type|) cross join of two
    # post-aggregation frames, both bucket-count sized by construction
    "events_resample_ffill",
    # 1-row × 1-row final stitch (triangle total × wedge total) and 1-row
    # normalizing-constant fan-out (n_uni/n_bi onto the bigram table; the
    # max source count onto the per-source weight table)
    "graph_triangle_count",
    "text_pmi_bigrams",
    "text_bigram_logprob",
    "mix_epoch_repeats",
    # 1-row normalizer frames fanned onto group-count-sized tables (the
    # sqrt-sum/total pair; the three percentile cut points)
    "mix_temperature_weights",
    "curriculum_quality_buckets",
    # 1-row corpus-stats (N, avgdl) fan-out onto the query-vocabulary tf
    # frame; 3-row broadcast query-vector fan-out on the cosine side
    "retrieval_bm25_topk",
    # composes the BM25 ranked chain above, inheriting its 1-row fan-out
    "eval_bm25_mrr",
    "retrieval_hybrid_rrf",
    # 1-row budget/level scalars fanned onto the O(sources) frame
    "mix_token_budget_waterfill",
    # 20-row broadcast query-vector fan-out (self-exclusion is a
    # non-equi predicate, so the broadcast join is nested-loop by design)
    "eval_knn_label_precision",
    # composes the two allowlisted scans above (bruteforce + hamming),
    # inheriting their 1-row broadcast fan-outs
    "eval_binary_hamming_recall",
    # 8-row seed-centroid fan-out (SemDeDup assignment scan)
    "dedup_semantic_semdedup",
    # 1-row token-total fan-out onto the O(candidates) count frame
    "text_heavyhitters_twopass",
    # three 1-row count frames stitched by cross joins (recall audit)
    "eval_lsh_candidate_recall",
    # same three-1-row-count stitch + inherits the bruteforce truth scan
    "eval_rp_lsh_recall",
    # 1-row corpus-max-timestamp fan-out onto the O(users) RFM aggregate
    "events_rfm_segments",
    # dense-grid spine cross join (same shape as events_resample_ffill)
    "events_resample_interpolate",
    # 1-row n_docs scalar fanned onto the O(docs)/O(vocab) decile maps
    "text_heaps_law_curve",
    # 1-row N / (n_s, n_t, v) totals onto term-grain frames; 3-row query
    # block (label exclusion is the join condition); 1-row query pivot
    "text_tfidf_top_terms",
    "text_tfidf_doc_similarity",
    "mix_importance_resample",
    "similarity_hard_negatives",
    "similarity_maxsim_multivector",
}

# lazy queries that run Spark jobs at BUILD (all others run none), and
# must: an entry whose build runs no job fails too
BUILD_JOBS_OK = {
    "wordcount_ranked",  # distributed zipWithIndex sizes its partitions
    # eager localCheckpoint of a narrow frame two branches of one action
    # read (CLAUDE.md): survivor ids; the Misra-Gries summary (+ its count)
    "pipeline_pretrain_full",
    "text_heavyhitters_twopass",
    "similarity_multiquery_topk",  # query matrix: numpy broadcast variable
}

# streaming / iterative queries execute eagerly inside the callable —
# plan introspection would run them; they're audited by their own tests
# (single source of truth: register(eager=True) in the registry)
from wordcount_spark.registry import EAGER_QUERIES as SKIP  # noqa: E402


def _registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def pytest_generate_tests(metafunc):
    if "plan_query" in metafunc.fixturenames:
        metafunc.parametrize("plan_query", sorted(set(_registry()) - SKIP))
    if "eager_query" in metafunc.fixturenames:
        metafunc.parametrize("eager_query", sorted(set(_registry()) & SKIP))


# queries allowed to run a window with NO partition spec (every window
# funnels through ONE task — a 100 TB outage unless the input frame is
# already tiny). Keep empty unless a global frame over an O(groups)
# aggregate is genuinely the right plan; comment the justification.
GLOBAL_WINDOW_OK: set[str] = {
    # water-filling level needs a global (rank, prefix-sum) over the
    # per-SOURCE aggregate — an O(sources) frame (a handful of rows at any
    # corpus size), never the corpus
    "mix_token_budget_waterfill",
    # reverse-cumulative pair count over the 10-row decile histogram
    "dedup_threshold_sweep",
    # two running sums over the 10-row decile frame
    "text_heaps_law_curve",
    # running sum over the O(days) calendar frame (cum-unique identity)
    "window_cumulative_distinct",
    # lag(12) over the O(months) calendar frame
    "window_yoy_growth",
    # rank window over the top-1000 sort-limited vocabulary frame
    "text_zipf_fit",
}


def _unpartitioned_windows(plan: str) -> list[str]:
    """windowspecdefinition(...) whose args before specifiedwindowframe are
    only ORDER-BY tokens (or nothing) — i.e. no partition columns."""
    hits = []
    for m in re.finditer(r"windowspecdefinition\((.*?)specifiedwindowframe", plan):
        head = [t.strip() for t in m.group(1).split(",") if t.strip()]
        if all(" ASC" in t or " DESC" in t for t in head):  # empty head ⇒ all() is True
            hits.append(m.group(0)[:80])
    return hits


def _signature_baseline() -> dict:
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_SIGNATURES.json",
    )
    try:
        return json.load(open(path))
    except (OSError, ValueError):
        return {"round": 0, "signatures": {}}


_BASELINE = _signature_baseline()


def test_no_plan_smells(spark, plan_query):
    from wordcount_spark.plans.metrics import jobs_run

    jobs0 = jobs_run(spark)
    df = _registry()[plan_query](spark, "/root/testdata/sf0.001")
    build_jobs = jobs_run(spark) - jobs0
    assert bool(build_jobs) == (plan_query in BUILD_JOBS_OK), (
        f"{plan_query} runs {build_jobs} job(s) at build; see BUILD_JOBS_OK"
    )
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, f"{plan_query} plans a cartesian product"
    assert ("BroadcastNestedLoopJoin" in plan) == (plan_query in BNLJ_OK), (
        f"{plan_query} plans a nested-loop join iff it is in BNLJ_OK; see BNLJ_OK"
    )
    if plan_query not in GLOBAL_WINDOW_OK:
        bad = _unpartitioned_windows(plan)
        assert not bad, (
            f"{plan_query} plans {len(bad)} unpartitioned window(s) "
            f"(single-task funnel): {bad}"
        )
    # EVIDENCE_RESET mechanization (VERDICT r7 item 7): a plan-shape change
    # on a driver-proven query must be ACKNOWLEDGED — either an
    # EVIDENCE_RESET entry newer than the committed signature baseline, or
    # driver evidence newer than the baseline — before it can merge. The
    # r7 pipeline_rag_corpus rewrite (score-first: shuffles/broadcasts
    # moved) would have tripped exactly this.
    base = _BASELINE["signatures"].get(plan_query)
    if base is not None:
        from tools.gen_plan_signatures import plan_signature

        sig = plan_signature(plan)
        if sig != base:
            rnd = _BASELINE["round"]
            assert _acknowledged(plan_query, rnd), (
                f"{plan_query}: plan signature drifted from the committed "
                f"round-{rnd} baseline ({base} -> {sig}) without an "
                "EVIDENCE_RESET entry or fresh driver evidence — add the "
                "query to registry.EVIDENCE_RESET (the driver must re-prove "
                "a changed plan) and regenerate PLAN_SIGNATURES.json via "
                "tools/gen_plan_signatures.py"
            )


def _acknowledged(name: str, baseline_round: int) -> bool:
    from wordcount_spark.registry import EVIDENCE_RESET, driver_checked_rounds

    return (
        EVIDENCE_RESET.get(name, 0) > baseline_round
        or driver_checked_rounds().get(name, 0) > baseline_round
    )


def test_signature_baseline_covers_whole_registry():
    """ADVICE r8: a query registered AFTER the committed freeze was
    silently skipped by the drift gate (`if base is not None`), so its
    plan was never baselined until someone remembered to rerun
    gen_plan_signatures. Registering a query now FORCES the deliberate
    refreeze: every lazy query needs a `signatures` entry, every eager
    query an `eager_signatures` entry. Deleting one forces it too: an
    entry naming an unregistered query fails."""
    names = set(_registry())
    for key, want in (
        ("signatures", names - SKIP),
        ("eager_signatures", names & SKIP),
    ):
        have = set(_BASELINE.get(key, {}))
        assert have == want, (
            f"PLAN_SIGNATURES.json {key} out of step with the registry "
            f"(missing {sorted(want - have)}, ghost {sorted(have - want)}) — "
            "run tools/gen_plan_signatures.py <round> to baseline deliberately"
        )


def test_eager_query_final_frame_signature(spark, eager_query):
    """Eager queries (streaming replays, iterative loops, format
    round-trips) execute their work at build time, so the full pipeline
    can't be signed lazily — but the RETURNED frame's plan is stable at
    fixed sf and pins the final stage (VERDICT r8 item 3: eager plans
    could previously drift with only PLANS.md regeneration to show it).
    Executing here is the cost of the audit; it also closes the smell
    gap — the returned frame must not plan a cartesian product either."""
    df = _registry()[eager_query](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, (
        f"{eager_query} returns a frame planning a cartesian product"
    )
    base = _BASELINE.get("eager_signatures", {}).get(eager_query)
    if base is not None:
        from tools.gen_plan_signatures import plan_signature

        sig = plan_signature(plan)
        if sig != base:
            rnd = _BASELINE["round"]
            assert _acknowledged(eager_query, rnd), (
                f"{eager_query}: final-frame signature drifted from the "
                f"committed round-{rnd} baseline ({base} -> {sig}) without "
                "an EVIDENCE_RESET entry or fresh driver evidence — add "
                "the query to registry.EVIDENCE_RESET and regenerate "
                "PLAN_SIGNATURES.json via tools/gen_plan_signatures.py"
            )


def test_topk_windows_plan_partial_group_limits(spark, sf_dir):
    """Per-key top-k via row_number()+filter must keep the
    WindowGroupLimit pair (partial BEFORE the exchange + final after):
    the partial node makes each map task emit only its local top-k per
    key, so a 3-query retrieval window never ships the full score
    stream into 3 reducer partitions. A refactor that replaces the
    rank<=k filter with a shape Catalyst can't push (e.g. rank arithmetic
    inside a bigger predicate) silently loses the partial limit — this
    pins it for the queries whose key cardinality is tiny by design."""
    import __spark_entry__ as entrymod

    from wordcount_spark.plans.explain import formatted_plan

    qs = entrymod.queries()
    for name in ("pipeline_rag_corpus", "retrieval_bm25_topk",
                 "similarity_hard_negatives"):
        plan = formatted_plan(qs[name](spark, sf_dir))
        n = plan.count("WindowGroupLimit")
        assert n >= 2, (
            f"{name}: expected partial+final WindowGroupLimit pair, found {n} "
            "— the per-key top-k now ships the full score stream through "
            "the low-cardinality key exchange"
        )
