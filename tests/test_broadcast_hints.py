"""Mechanical guard for explicit broadcast hints (VERDICT r2 item 4).

An explicit ``F.broadcast(df)`` OVERRIDES autoBroadcastJoinThreshold and
AQE: the frame ships to every executor at ANY size. That is only ever
correct for frames whose row count is bounded by a CONSTANT or by a fixed
enumeration — literal bands, fixed query sets, 1-row aggregate scalars,
per-language/per-source/per-nation tables. Frames that grow with the base
data (dimension tables at TPC-H SF, vocabulary/model tables, per-user
profiles, degree/adjacency tables, rank vectors) must NOT be hinted — the
engine picks broadcast while they actually fit and a shuffle join when
they don't (that flip is the thing a hint destroys). Gating a hint on a
build-time ``count()`` only re-does that choice with an extra job; the
one gated site left (``text_heavyhitters_twopass``) keeps the token
stream from being shuffled before AQE could convert the join.

This test AST-scans the package for ``*.broadcast(...)`` call sites
(``F.broadcast`` hints and ``sparkContext.broadcast`` variables alike)
and fails on any site not in the allowlist below, any count increase at
an allowlisted site, and any stale allowlist entry. Adding a hint means
adding a row HERE with a justification that names the bound.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "wordcount_spark")

#: (module relpath, innermost enclosing function) -> (site count, bound)
ALLOWED: dict[tuple[str, str], tuple[int, str]] = {
    ("operators/queries_asof.py", "range_join_value_bands"): (1, "4 literal value bands"),
    ("operators/queries_dedup.py", "pipeline_rag_corpus"): (1, "3 fixed query vectors"),
    ("operators/queries_dedup.py", "dedup_semantic_semdedup"): (1, "8 fixed seed centroids (vec_id < 8)"),
    ("operators/queries_llmprep.py", "mix_token_budget_waterfill"): (4, "1-row budget/level scalars onto the O(sources) frame"),
    ("operators/queries_llmprep.py", "mix_rebalance_to_min"): (1, "O(langs) rate table (fixed lang enumeration)"),
    ("operators/queries_llmprep.py", "pipeline_pretrain_full"): (1, "O(langs) rate table"),
    ("operators/queries_llmprep.py", "mix_epoch_repeats"): (2, "1-row max scalar + O(sources) weight table"),
    ("operators/queries_llmprep.py", "mix_temperature_weights"): (1, "1-row normalization scalar"),
    ("operators/queries_llmprep.py", "curriculum_quality_buckets"): (1, "1-row percentile-cuts scalar"),
    ("operators/queries_analytic_extra.py", "events_rfm_segments"): (1, "1-row corpus-max-timestamp scalar"),
    ("operators/queries_relational.py", "join_broadcast_dims"): (2, "nation(25)/region(5): fixed enumerations"),
    ("operators/queries_relational.py", "q5_local_supplier_volume"): (2, "nation(25)/region(5)"),
    ("operators/queries_relational.py", "dq_referential_audit"): (1, "nation(25)"),
    ("operators/queries_relational.py", "agg_argmax_join"): (1, "O(nations) per-group max table"),
    ("operators/queries_retrieval.py", "_bm25_ranked"): (3, "fixed 9-term query set, its per-term df, 1-row corpus stats"),
    ("operators/queries_retrieval.py", "eval_bm25_mrr"): (2, "fixed 9-term query set (relevance labels) + its 3-row per-qid term-count frame"),
    ("operators/queries_textstats.py", "text_heaps_law_curve"): (2, "1-row n_docs scalar fanned onto the per-doc and per-token-first-seen frames"),
    ("operators/queries_textstats.py", "text_tfidf_top_terms"): (1, "1-row n_docs scalar"),
    ("operators/queries_textstats.py", "text_tfidf_doc_similarity"): (1, "1-row n_docs scalar"),
    ("operators/queries_llmprep.py", "mix_importance_resample"): (1, "1-row (n_s, n_t, v) totals"),
    ("operators/queries_textstats.py", "text_heavyhitters_twopass"): (1, "MG candidate set gated on a MEASURED count (<=1M; O(P*256) by construction); unhinted over the cap"),
    ("operators/queries_retrieval.py", "retrieval_hybrid_rrf"): (1, "3 fixed query vectors"),
    ("operators/queries_similarity.py", "similarity_topk_bruteforce"): (1, "fixed query vectors"),
    ("operators/queries_similarity.py", "similarity_binary_hamming_topk"): (1, "1-row query signature (2 longs)"),
    ("operators/queries_similarity.py", "similarity_ivf_topk"): (2, "1-row query vector + O(nProbe)=2-row probe-cell frame"),
    ("operators/queries_similarity.py", "similarity_multiquery_topk"): (3, "8-query matrix (sc.broadcast) + O(queries*k) candidates + query frame"),
    ("operators/queries_similarity.py", "similarity_pq_topk"): (3, "1-row query vector (ADC + re-rank sides) + O(50) candidate frame"),
    ("operators/queries_similarity.py", "similarity_knn_classify"): (1, "5 fixed query vectors"),
    ("operators/queries_similarity.py", "similarity_hard_negatives"): (1, "3 fixed query vectors"),
    ("operators/queries_similarity.py", "similarity_maxsim_multivector"): (1, "1-row pivot of 3 fixed query vectors"),
    ("operators/queries_similarity.py", "eval_rp_lsh_recall"): (1, "1-row band values of query 0"),
    ("operators/queries_similarity.py", "eval_knn_label_precision"): (1, "20 fixed query vectors"),
    ("operators/queries_textstats.py", "unigram_logprob_scores"): (1, "1-row ln(N) scalar"),
    ("operators/queries_textstats.py", "text_bigram_logprob"): (1, "1-row n_uni scalar"),
    ("operators/queries_textstats.py", "text_pmi_bigrams"): (2, "1-row n_uni/n_bi scalars"),
    ("operators/queries_tpch_extra.py", "q7_volume_shipping"): (2, "nation aliases (25 rows)"),
    ("operators/queries_tpch_extra.py", "q8_market_share"): (3, "nation aliases + 1-row region filter"),
    ("operators/queries_tpch_extra.py", "q10_returned_items"): (1, "nation(25)"),
    ("operators/queries_tpch_extra.py", "q15_top_supplier"): (1, "1-row peak-revenue scalar"),
    ("operators/queries_tpch_extra.py", "q2_min_cost_supplier"): (2, "nation(25)/region(5)"),
    ("operators/queries_tpch_extra.py", "q11_important_stock"): (2, "nation(25) + 1-row threshold scalar"),
    ("operators/queries_tpch_extra.py", "q20_potential_promotion"): (1, "nation(25)"),
    ("operators/queries_tpch_extra.py", "q22_sales_opportunity"): (1, "1-row avg-balance scalar"),
}


def _scan() -> dict[tuple[str, str], int]:
    found: dict[tuple[str, str], int] = {}
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path).read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                ):
                    inner = sorted(
                        (s, name) for (s, e, name) in funcs if s <= node.lineno <= e
                    )
                    fname = inner[-1][1] if inner else "<module>"
                    found[(rel, fname)] = found.get((rel, fname), 0) + 1
    return found


def test_no_unbounded_broadcast_hints():
    found = _scan()
    new = {k: c for k, c in found.items() if k not in ALLOWED}
    assert not new, (
        "explicit broadcast site(s) not in the allowlist — justify the bound "
        f"in tests/test_broadcast_hints.py or drop the hint: {sorted(new)}"
    )
    grown = {
        k: (c, ALLOWED[k][0]) for k, c in found.items() if c > ALLOWED[k][0]
    }
    assert not grown, f"broadcast site count grew beyond allowlist: {grown}"
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"stale allowlist entries (sites removed): {stale}"
