"""Generate PLANS.md: a physical-plan audit of the headline queries.

For each bench headline query this records, straight from
``.explain("formatted")`` at the bench scale factor:

- number of shuffle exchanges (the scale-limiting operator),
- number of broadcast exchanges (dimension joins that DON'T shuffle),
- whether the parquet scans carry PushedFilters (predicate pushdown),
- the widest-stage summary: how many WholeStageCodegen spans the plan has.

Run: ``python tools/audit_plans.py [sf_dir]`` (default sf0.1). Commits of
PLANS.md are the per-round evidence that plans stay the ones we designed —
the row-level oracle can't see a plan regression.
"""

from __future__ import annotations

import os
import re
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


#: queries that execute eagerly inside the callable — single source of
#: truth is register(eager=True); imported lazily inside main() after the
#: repo root is on sys.path


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from bench import HEADLINE
    from tools.gen_plan_signatures import plan_signature
    from wordcount_spark.plans.explain import formatted_plan
    from wordcount_spark.registry import get_queries
    from wordcount_spark.session import get_spark

    from wordcount_spark.registry import EAGER_QUERIES as SKIP

    spark = get_spark("plan_audit", cpus=8)
    # AQE wraps everything in AdaptiveSparkPlan, which prints the pre-codegen
    # initial plan — disable it here (audit only) so [codegen id] shows up.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    queries = get_queries()

    audit_all = "--all" in sys.argv
    names = (
        sorted(set(queries) - SKIP)
        if audit_all
        else [n for n in HEADLINE if n in queries]
    )
    scope = "every registered query" if audit_all else "the headline queries"
    lines = [
        f"# PLANS — physical-plan audit of {scope}",
        "",
        f"Generated by `tools/audit_plans.py{' --all' if audit_all else ''}` "
        f"at `{sf_dir}` (AQE off for the audit so codegen ids print).",
        "Columns: shuffle/broadcast exchange counts, parquet predicate",
        "pushdown, WholeStageCodegen span count (wider spans = more of the",
        "operator pipeline fused into one generated loop).",
        "",
        "| query | shuffles | broadcasts | pushed filters | codegen spans |",
        "|---|---|---|---|---|",
    ]
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = formatted_plan(df)
        sig = plan_signature(plan)
        codegen = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
        lines.append(
            f"| {name} | {sig['shuffles']} | {sig['broadcasts']} | "
            f"{sig['pushed']}/{sig['scans']} scans | {codegen} |"
        )

    lines += [
        "",
        "Shuffle counts are pinned as regression tests in",
        "`tests/test_shuffle_budget.py`; cartesian/nested-loop smells in",
        "`tests/test_plan_smells.py`.",
        "",
    ]
    out = os.path.join(_REPO_ROOT, "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
