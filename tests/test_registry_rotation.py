"""Rotation guard for the driver's graded sample window.

The external driver runs correctness rows for the FIRST ``WINDOW`` entries
of ``get_queries()``. The round-2 advisor's finding: a hand-curated window
lets a regression registered outside it silently escape driver checking.
The registry's answer is a MECHANICAL ordering — sentinels, then queries
with no committed driver evidence (oracle-backed first), then the rest —
and these tests make that ordering un-breakable:

- no hand-pinning: every non-sentinel window slot must hold a
  driver-unseen query as long as unseen oracle-backed queries exist;
- self-rotation: a newly registered oracle-backed query MUST land inside
  the window with no registry edit;
- evidence source: the seen-set comes from the committed
  CORRECTNESS_r*.json rounds, so committing a round's results is the act
  that rotates the next round's window.
"""

from __future__ import annotations

WINDOW = 50  # the driver's per-round sample size


def _registry():
    from wordcount_spark.registry import get_oracles, get_queries

    return get_queries(), get_oracles()


def test_sentinels_valid():
    """Sentinels must resolve, be oracle-backed (hash evidence), stay few
    (each one displaces an unseen query from the graded window), and lead
    the ordering."""
    from wordcount_spark.registry import SENTINELS

    queries, oracles = _registry()
    assert len(SENTINELS) == len(set(SENTINELS))
    assert len(SENTINELS) <= 8
    missing = [n for n in SENTINELS if n not in queries]
    assert not missing, f"sentinel not registered: {missing}"
    no_oracle = [n for n in SENTINELS if n not in oracles]
    assert not no_oracle, f"sentinel without oracle: {no_oracle}"
    assert list(queries)[: len(SENTINELS)] == sorted(
        SENTINELS, key=list(queries).index
    )


def test_window_is_filled_by_unseen_queries():
    """While driver-unseen oracle-backed queries exist, every non-sentinel
    window slot holds an unseen query — no already-checked query may occupy
    a slot an unchecked one could use (the anti-curation invariant)."""
    from wordcount_spark.registry import SENTINELS, driver_checked

    queries, oracles = _registry()
    seen = driver_checked()
    window = list(queries)[:WINDOW]
    unseen_oracle_backed = [
        n for n in queries if n not in seen and n in oracles and n not in SENTINELS
    ]
    overflow = len(unseen_oracle_backed) > WINDOW - len(SENTINELS)
    for n in window:
        if n in SENTINELS:
            continue
        if overflow:
            assert n not in seen, (
                f"driver-checked query '{n}' occupies a window slot while "
                f"{len(unseen_oracle_backed)} unseen oracle-backed queries wait"
            )
            assert n in oracles, (
                f"rows-only query '{n}' in window before oracle-backed unseen"
            )


def test_new_registration_rotates_into_window():
    """A query registered today (hence absent from every committed
    CORRECTNESS round) must sort into the graded window automatically."""
    from wordcount_spark import registry

    dummy = "zz_rotation_probe"
    assert dummy not in registry.QUERIES
    registry.QUERIES[dummy] = lambda spark, sf_dir: None
    registry.ORACLES[dummy] = "SELECT 1 AS x"
    try:
        window = list(registry.get_queries())[:WINDOW]
        assert dummy in window, "new oracle-backed query did not rotate into window"
    finally:
        del registry.QUERIES[dummy]
        del registry.ORACLES[dummy]


def test_register_rejects_a_duplicate_name():
    """A second definition under a registered name raises and leaves the
    first one, its oracle and its eager flag in place — a later module can
    no longer silently replace an earlier query."""
    import pytest

    from wordcount_spark import registry

    registry._load_all()
    fn, oracle = registry.QUERIES["wordcount"], registry.ORACLES["wordcount"]
    with pytest.raises(ValueError, match="'wordcount' is already registered"):
        registry.register("wordcount", "SELECT 1 AS x", eager=True)(
            lambda spark, sf_dir: None
        )
    assert registry.QUERIES["wordcount"] is fn
    assert registry.ORACLES["wordcount"] == oracle
    assert "wordcount" not in registry.EAGER_QUERIES


def test_driver_checked_reads_committed_rounds():
    """The seen-set must reflect the committed rounds (r1/r2 checked 77
    distinct queries) — if the files go missing the rotation degrades to
    registration order, which would silently re-curate the window."""
    from wordcount_spark.registry import driver_checked

    seen = driver_checked()
    assert {"wordcount", "q1_pricing_summary", "agg_cube"} <= seen
    assert len(seen) >= 77


def test_evidence_freshness_floor():
    """The staleness rotation must actually keep evidence fresh (VERDICT r8
    item 5): nothing previously FAILED if the oldest-evidence-first queue
    stalled (e.g. a refactor breaking _ordered). Every registered query's
    newest driver evidence must be within 6 rounds of the newest committed
    round — the queue drains ~45 slots/round over a 265-query registry, so
    a healthy rotation keeps the lag <= ceil(265/45) + 1 = 7 windows; 6 is
    the committed r8 state (min r3 vs round 8, headroom 1) made a red line."""
    import glob
    import json
    import os
    import re

    from wordcount_spark.registry import driver_checked_rounds

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    committed = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", os.path.basename(p)))
        and isinstance(json.load(open(p)), dict)
    ]
    assert committed, "no committed CORRECTNESS artifacts found"
    current = max(committed)
    queries, _ = _registry()
    rounds = driver_checked_rounds()
    # queries ABSENT from driver_checked_rounds() are exempt (ADVICE r9
    # medium): a newly registered query, or one freshly added to
    # EVIDENCE_RESET, has no countable evidence yet and would otherwise
    # fail the suite immediately with no local remediation — driver
    # evidence only arrives via the NEXT external round's committed
    # CORRECTNESS file. The unseen class is governed instead by the
    # rotation-window tests above, which force such queries into the very
    # next graded window.
    stale = {
        n: rounds[n] for n in queries if n in rounds and rounds[n] < current - 6
    }
    assert not stale, (
        f"evidence decay: {len(stale)} queries' newest driver evidence is "
        f"more than 6 rounds behind round {current}: {stale}"
    )


def test_freshness_floor_exempts_unseen_queries():
    """Pin the ADVICE r9 exemption: registering a brand-new query (hence
    absent from every committed CORRECTNESS round) must not trip the
    freshness floor — it has no evidence to be stale; the rotation tests
    guarantee it enters the next window instead."""
    from wordcount_spark import registry

    dummy = "zz_freshness_probe"
    assert dummy not in registry.QUERIES
    registry.QUERIES[dummy] = lambda spark, sf_dir: None
    registry.ORACLES[dummy] = "SELECT 1 AS x"
    try:
        rounds = registry.driver_checked_rounds()
        assert dummy not in rounds  # no committed evidence at all
        # the freshness filter must therefore skip it, not score it as 0
        stale = {
            n: rounds[n]
            for n in registry.get_queries()
            if n in rounds and rounds[n] < 10_000
        }
        assert dummy not in stale
    finally:
        del registry.QUERIES[dummy]
        del registry.ORACLES[dummy]


def test_no_oracle_rows_count_as_rows_only_evidence(tmp_path, monkeypatch):
    """The driver stamps oracle-less queries err='no_oracle' with a
    spark_rows count — that IS its weaker rows-only check, and must count
    as rows-only evidence (r8: treating it as none made the 4 rows-only
    queries permanently unseen, pinning 4 of the 50 window slots every
    round). It must NOT satisfy an oracle-backed query, and a no_oracle
    row whose run died (spark_rows null) must not count at all."""
    import json

    from wordcount_spark import registry

    registry._load_all()
    oracle_backed = next(iter(registry.ORACLES))
    rows = {
        "rows_only_q": {"rows_match": None, "schema_match": None,
                        "hash_match": None, "spark_rows": 7,
                        "oracle_rows": None, "err": "no_oracle"},
        "dead_rows_only_q": {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": None,
                             "oracle_rows": None, "err": "no_oracle"},
        oracle_backed: {"rows_match": None, "schema_match": None,
                        "hash_match": None, "spark_rows": 7,
                        "oracle_rows": None, "err": "no_oracle"},
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(rows))
    import glob as glob_mod

    monkeypatch.setattr(
        glob_mod, "glob", lambda pat: [str(tmp_path / "CORRECTNESS_r99.json")]
    )
    seen = registry.driver_checked()
    assert "rows_only_q" in seen
    assert "dead_rows_only_q" not in seen
    assert oracle_backed not in seen


def test_failed_driver_rows_do_not_count_as_checked(tmp_path, monkeypatch):
    """A red CORRECTNESS row must leave the query in the unseen class so
    it re-enters the next graded window until the driver sees it pass."""
    import json

    from wordcount_spark import registry

    rows = {
        "green_q": {"rows_match": True, "schema_match": True,
                    "hash_match": True, "err": None},
        "red_q": {"rows_match": True, "schema_match": True,
                  "hash_match": False, "err": None},
        "err_q": {"rows_match": None, "schema_match": None,
                  "hash_match": None, "err": "boom"},
        "rows_only_green": {"rows_match": True, "schema_match": None,
                            "hash_match": None, "err": None},
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(rows))
    import glob as glob_mod

    monkeypatch.setattr(
        glob_mod, "glob", lambda pat: [str(tmp_path / "CORRECTNESS_r99.json")]
    )
    seen = registry.driver_checked()
    assert "green_q" in seen
    assert "rows_only_green" in seen
    assert "red_q" not in seen
    assert "err_q" not in seen


def test_variant_filenames_are_skipped_entirely(tmp_path, monkeypatch):
    """Strict round parse (ADVICE r5): a non-canonical filename such as
    CORRECTNESS_r99_retry.json must contribute NO evidence — the old
    split-based parse fell back to round 0, which discarded its rows for
    EVIDENCE_RESET queries while still counting them for every other
    query (an inconsistent half-read of an artifact the driver never
    wrote)."""
    import json

    from wordcount_spark import registry

    rows = {
        "variant_green_q": {"rows_match": True, "schema_match": True,
                            "hash_match": True, "err": None},
    }
    (tmp_path / "CORRECTNESS_r99_retry.json").write_text(json.dumps(rows))
    import glob as glob_mod

    monkeypatch.setattr(
        glob_mod, "glob",
        lambda pat: [str(tmp_path / "CORRECTNESS_r99_retry.json")],
    )
    assert "variant_green_q" not in registry.driver_checked()


def test_rows_only_pass_does_not_satisfy_oracle_backed(tmp_path, monkeypatch):
    """A query UPGRADED from rows-only to oracle-backed must drop back to
    the unseen class: its old rows_match pass says nothing about the new
    hash comparison (r4 upgraded eight queries this way)."""
    import json

    from wordcount_spark import registry

    registry._load_all()
    oracle_backed = next(iter(registry.ORACLES))
    rows = {
        oracle_backed: {"rows_match": True, "schema_match": None,
                        "hash_match": None, "err": None},
    }
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps(rows))
    import glob as glob_mod

    monkeypatch.setattr(
        glob_mod, "glob", lambda pat: [str(tmp_path / "CORRECTNESS_r99.json")]
    )
    assert oracle_backed not in registry.driver_checked()


def test_checked_class_orders_by_stalest_evidence(tmp_path, monkeypatch):
    """Already-checked queries re-enter the window OLDEST evidence first,
    not in registration order (r6 verdict: post-drain windows would
    otherwise re-prove the same earliest-registered slice forever)."""
    import json

    from wordcount_spark import registry

    registry._load_all()
    names = [n for n in registry.ORACLES if n not in registry.SENTINELS][:4]
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    # evidence rounds deliberately anti-correlated with registration order
    (tmp_path / "CORRECTNESS_r97.json").write_text(
        json.dumps({names[3]: green, names[1]: green}))
    (tmp_path / "CORRECTNESS_r98.json").write_text(
        json.dumps({names[0]: green, names[2]: green}))
    import glob as glob_mod

    monkeypatch.setattr(
        glob_mod, "glob",
        lambda pat: [str(tmp_path / f) for f in
                     ("CORRECTNESS_r97.json", "CORRECTNESS_r98.json")],
    )
    ordered = list(registry.get_queries())
    checked = [n for n in ordered if n in names]
    # r97 evidence (stale) before r98 evidence; reg order breaks ties
    reg_pos = {n: i for i, n in enumerate(registry.QUERIES)}
    expect = sorted(names, key=lambda n: (97 if n in (names[3], names[1])
                                          else 98, reg_pos[n]))
    assert checked == expect, f"{checked} != {expect}"


def test_consecutive_windows_cycle_disjoint_checked_slices(tmp_path,
                                                           monkeypatch):
    """Post-drain simulation: with every query driver-checked, committing
    round N's window must rotate a DISJOINT already-checked slice into
    round N+1's window (the staleness queue cycles the whole registry)."""
    import json

    from wordcount_spark import registry

    registry._load_all()
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    files = {"CORRECTNESS_r90.json":
             json.dumps({n: green for n in registry.QUERIES})}
    import glob as glob_mod

    monkeypatch.setattr(
        glob_mod, "glob",
        lambda pat: [str(tmp_path / f) for f in sorted(files)],
    )

    def window():
        return list(registry.get_queries())[:WINDOW]

    for fname, content in files.items():
        (tmp_path / fname).write_text(content)
    w1 = window()
    # the driver "runs" w1 and commits its results as round 91
    files["CORRECTNESS_r91.json"] = json.dumps({n: green for n in w1})
    (tmp_path / "CORRECTNESS_r91.json").write_text(
        files["CORRECTNESS_r91.json"])
    w2 = window()
    s1 = {n for n in w1 if n not in registry.SENTINELS}
    s2 = {n for n in w2 if n not in registry.SENTINELS}
    assert s1, "window 1 empty beyond sentinels"
    assert not (s1 & s2), f"windows overlap beyond sentinels: {s1 & s2}"
