"""Freeze every registered query's physical-plan SIGNATURE so a plan
change can't dodge the driver re-proof (VERDICT r7 item 7).

The honesty rule: when a query's plan semantics change after it has
green driver rows, the builder must add it to ``registry.EVIDENCE_RESET``
so the driver re-proves it. Until round 8 that rested on builder
discipline alone. This tool commits a baseline —

    python tools/gen_plan_signatures.py <round>   # -> PLAN_SIGNATURES.json

— of each lazy query's (shuffle count, broadcast count, pushed-filter/
scan counts) computed in the SAME environment the pytest suite uses
(sf0.001, cpus=8, AQE on — NOT the sf0.1/AQE-off environment of
PLANS.md, so the two artifacts are independent), and
``tests/test_plan_smells.py`` fails any query whose live signature
drifts from the baseline UNLESS the change is acknowledged: an
``EVIDENCE_RESET`` entry newer than the baseline round, or driver
evidence newer than the baseline round. Regenerating this file (with
the current round number) is the deliberate act that accepts a new
plan shape — do it only alongside the EVIDENCE_RESET entry or after
the driver has re-proven the query.
"""

from __future__ import annotations

import json
import os
import re
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def plan_signature(plan: str) -> dict[str, int]:
    """The plan-shape fields the EVIDENCE_RESET rule cares about: what
    shuffles, what broadcasts, what reaches the scan. (tools/audit_plans.py
    counts PLANS.md rows with this too; codegen spans are excluded — they
    don't print under AQE and are a fusion detail, not join/exchange
    semantics.)"""
    return {
        "shuffles": len(re.findall(r"^\(\d+\) Exchange\s*$", plan, re.M)),
        "broadcasts": len(re.findall(r"^\(\d+\) BroadcastExchange\s*$", plan, re.M)),
        "pushed": len(re.findall(r"PushedFilters: \[(?!\])", plan)),
        "scans": len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)),
    }


def main() -> None:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0

    from wordcount_spark.plans.explain import formatted_plan
    from wordcount_spark.registry import EAGER_QUERIES, get_queries
    from wordcount_spark.session import get_spark

    spark = get_spark("plan_signatures", cpus=8)
    queries = get_queries()
    sigs = {
        name: plan_signature(formatted_plan(fn(spark, SF_DIR)))
        for name, fn in sorted(queries.items())
        if name not in EAGER_QUERIES
    }
    # Eager queries (streaming replays, iterative loops, format
    # round-trips) EXECUTE inside the callable, so their work's plan shape
    # can't be introspected lazily — but the RETURNED frame's plan is
    # stable across sessions at fixed sf and pins the final stage (a
    # memory-sink scan staying a memory-sink scan, a round-trip read
    # keeping its pushdown). Signing it closes the r8 gap where an eager
    # query's shape could drift with only PLANS.md regeneration to show it
    # (VERDICT r8 item 3). Coarser than a lazy signature — upstream
    # stages already ran — which is exactly why they live in a separate
    # map the test reports distinctly.
    eager_sigs = {
        name: plan_signature(formatted_plan(queries[name](spark, SF_DIR)))
        for name in sorted(EAGER_QUERIES)
        if name in queries
    }
    out = {
        "round": rnd,
        "sf_dir": SF_DIR,
        "signatures": sigs,
        "eager_signatures": eager_sigs,
    }
    path = os.path.join(_REPO_ROOT, "PLAN_SIGNATURES.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(
        f"wrote {path} ({len(sigs)} lazy + {len(eager_sigs)} eager "
        f"signatures, round {rnd})"
    )
    spark.stop()


if __name__ == "__main__":
    main()
