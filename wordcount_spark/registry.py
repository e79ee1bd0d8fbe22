"""Central registry: named queries + their DuckDB oracle SQL.

Every operator claimed in SURVEY.md §2 gets (a) a callable
``(spark, sf_dir) -> DataFrame`` and (b) where SQL-expressible, an
equivalent ANSI-SQL string DuckDB runs on the same parquet views. Column
names are aliased identically on both sides — the driver sorts columns by
name before value-hashing.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from wordcount_spark.operators.caching import release_pins

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
#: queries whose callable EXECUTES work eagerly (streaming replay to a
#: memory sink, iterative training) — plan introspection would run them.
#: Single source of truth for the plan-smell test, the shuffle audit, and
#: the rows-only allowlist.
EAGER_QUERIES: set[str] = set()


def register(name: str, oracle: str | None = None, eager: bool = False):
    """Decorator: add a query (and optionally its oracle SQL) to the registry."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if eager:
            EAGER_QUERIES.add(name)
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module for its registration side effects."""
    import wordcount_spark.operators.queries_wordcount  # noqa: F401

    for mod in (
        "queries_relational",
        "queries_tpch_extra",
        "queries_analytic_extra",
        "queries_windows",
        "queries_streaming",
        "queries_asof",
        "queries_cdc",
        "queries_dedup",
        "queries_similarity",
        "queries_textstats",
        "queries_timeseries",
        "queries_llmprep",
        "queries_graph",
        "queries_multimodal",
        "queries_retrieval",
        "queries_formats",
    ):
        try:
            __import__(f"wordcount_spark.operators.{mod}")
        except ImportError:
            pass  # module not built yet (incremental rounds)


#: The external driver samples the FIRST 50 entries of get_queries() for
#: its per-round correctness rows. Round 2 hand-pinned a category-spanning
#: 50 there; the round-2 advisor flagged that a hand-curated graded window
#: lets regressions registered OUTSIDE it silently escape driver checking.
#: The ordering below is therefore MECHANICAL, not curated: queries with no
#: driver-side evidence yet sort first, so each round's sample rotates onto
#: never-checked queries automatically, and any newly registered query
#: lands inside the next round's window by construction. Evidence is read
#: from the committed CORRECTNESS_r*.json files themselves — committing a
#: round's results is what rotates the next window. Enforced by
#: tests/test_registry_rotation.py.
#:
#: A handful of fixed SENTINELS stay in every window: the flagship plus
#: representatives of the round-1 failure classes (decimal/date/ratio type
#: canonicalization), so each round re-proves those fixes hold under the
#: real driver, not just the local mirror.
SENTINELS: tuple[str, ...] = (
    "wordcount",                  # flagship reference query — must stay green
    "wordcount_totals",           # r1-red: HUGEINT sum coercion class
    "q1_pricing_summary",         # r1-red: DECIMAL money-sum class
    "agg_cube",                   # r1-red: null-group/int-coercion class
    "curriculum_quality_buckets", # r1-red: ratio-lattice rounding class
)


def driver_checked_rounds() -> dict[str, int]:
    """name -> MOST RECENT round whose committed driver evidence matches
    the query's CURRENT evidence class: an oracle-backed query needs a
    passing hash_match row; a rows-only query needs a passing rows_match
    row. A FAILED row does NOT count — the query stays in the unseen
    class, so it re-enters the very next graded window and keeps
    re-entering until the driver itself sees the fix pass (a red row
    rotating out unverified would be the quiet way to bury a regression).
    Likewise a query UPGRADED from rows-only to oracle-backed (r4
    upgraded eight) drops back to unseen: its old rows-only pass says
    nothing about the new hash comparison, so the stronger check must be
    re-proven by the driver.

    The round number is the staleness signal for the rotation: once the
    unseen backlog drains, already-checked queries re-enter the graded
    window oldest-evidence-first (r6 verdict: sorting them by
    registration position re-proved the same earliest-registered ~43
    queries forever while mid-registry evidence aged indefinitely)."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hash_rounds: dict[str, int] = {}
    rows_rounds: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        # strict round parse (ADVICE r5): a variant filename such as
        # CORRECTNESS_r05_retry.json is NOT a canonical driver artifact —
        # the old split-based parse fell back to rnd=0 and silently
        # discarded its evidence for EVIDENCE_RESET queries while still
        # counting it for everything else. Skip non-conforming names
        # entirely so stale-evidence filtering can't misfire on a rename.
        m = re.search(r"_r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if rnd < EVIDENCE_RESET.get(name, 0):
                continue  # evidence predates a semantic change — stale
            err = row.get("err")
            if err == "no_oracle":
                # the driver's WEAKER check for oracle-less queries: it ran
                # the query and recorded a row count without a Spark error.
                # That is the entirety of the rows-only evidence class, so
                # it counts as such (r8 verdict: treating it as NO evidence
                # made the 4 rows-only queries permanently "unseen", pinning
                # 4 of the 50 graded window slots every round and starving
                # the staleness drain by exactly that many slots).
                if row.get("spark_rows") is not None:
                    rows_rounds[name] = max(rows_rounds.get(name, 0), rnd)
                continue
            if err:
                continue
            if row.get("hash_match"):
                hash_rounds[name] = max(hash_rounds.get(name, 0), rnd)
            elif row.get("hash_match") is None and row.get("rows_match"):
                rows_rounds[name] = max(rows_rounds.get(name, 0), rnd)
    out = dict(hash_rounds)
    for name, rnd in rows_rounds.items():
        # a rows-only pass satisfies only queries with no oracle today
        if name not in ORACLES:
            out[name] = max(out.get(name, 0), rnd)
    return out


def driver_checked() -> frozenset[str]:
    """Names with any committed driver evidence matching their current
    evidence class (see :func:`driver_checked_rounds`)."""
    return frozenset(driver_checked_rounds())


#: name -> first round whose driver evidence still counts. Set when a
#: query's SEMANTICS or oracle materially change after it already has
#: green driver rows: the old pass proved the old comparison, so the
#: query must re-enter the unseen class and be re-proven by the driver
#: itself (the same honesty rule that demotes rows-only -> oracle
#: upgrades, which the ORACLES membership check below handles
#: automatically). Entries are permanent history, not config.
EVIDENCE_RESET: dict[str, int] = {
    # r5: exchange re-keyed from line strings to a 128-bit xxhash64 pair
    # and the oracle rebuilt on the portable XXH64 pipeline — the r4 pass
    # proved the string-keyed comparison, not this one
    "text_line_dedup_c4": 5,
    # r5: both flagship composites rewrote their dedup stage so text /
    # token arrays never shuffle (groupBy(md5).min ownership + semi-join
    # instead of a wide-row window) — same oracle, new plan, re-prove
    "pipeline_pretrain_full": 5,
    # r7: embedding attach re-ordered so vectors never shuffle (cosine
    # scored map-side against the broadcast query set BEFORE the doc-id
    # join) — same oracle, new plan, re-prove
    "pipeline_rag_corpus": 7,
    # r10 (optimization round): adjacency frame cached so the two probe
    # sides share ONE groupBy(src)+collect_list build — the duplicate
    # 12.9 MB exchange per action is gone (same oracle, same values, one
    # fewer shuffle in the plan)
    "graph_triangle_count": 10,
    # r10: span + distinct types derived from the cached hourly aggregate
    # instead of two extra scans of the raw fact (3 scans -> 1; same
    # oracle, same values)
    "events_gapfill_hourly": 10,
    "events_resample_ffill": 10,
    # r10: per-order qualifier computed as a window over the
    # (orderkey, suppkey) aggregate instead of a join-back of the
    # late-line fact (2 fact scans -> 1, one fewer exchange; same oracle)
    "q21_waiting_suppliers": 10,
    # r12: cache pins are released before each registry build. The r9
    # signature freeze (like every registry sweep) built these after a
    # query whose live pin Spark substituted into their plans
    # (dedup_ngram_jaccard's shingles, the triangle count's adjacency,
    # dedup_minhash_lsh's LSH pins, mix_rebalance_to_min's lang counts);
    # the refreeze records the cold plans
    "eval_minhash_jaccard_calibration": 12,
    "graph_walks_deterministic": 12,
    "eval_lsh_candidate_recall": 12,
    "mix_temperature_weights": 12,
}


def _ordered(d: dict) -> dict:
    """Deterministic rotation order: sentinels, then driver-unseen queries
    (oracle-backed before rows-only — hash evidence is stronger), then the
    already-checked remainder OLDEST EVIDENCE FIRST. Unseen classes sort
    NEWEST registration first: a query registered this round is the
    least-tested code in the repo and is guaranteed a slot in the very
    next driver window, while the older unseen backlog drains in
    subsequent rounds. The already-checked class sorts by ascending
    last-checked round (then registration order): once the backlog is
    empty, consecutive windows cycle through the WHOLE registry instead
    of re-proving the same earliest-registered slice forever — committing
    a round's CORRECTNESS file is the act that pushes its queries to the
    back of the staleness queue (r6 verdict item 2)."""
    rounds = driver_checked_rounds()
    reg_pos = {n: i for i, n in enumerate(QUERIES)}

    def key(n: str) -> tuple[int, int, int]:
        if n in SENTINELS:
            return (0, 0, reg_pos.get(n, 0))
        if n not in rounds:
            cls = 1 if n in ORACLES else 2
            return (cls, 0, -reg_pos.get(n, 0))  # newest first
        return (3, rounds[n], reg_pos.get(n, 0))  # stalest first

    return {n: d[n] for n in sorted(d, key=key)}


def _scoped(fn: Callable[[SparkSession, str], DataFrame]):
    """``fn`` that first releases the pins of the previous build, so no
    pin outlives its query (see ``operators/caching.py``)."""

    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_pins()
        return fn(spark, sf_dir)

    return build


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registry in rotation order, each callable query-scoped. Raw
    ``QUERIES`` stays unwrapped for composition inside a build."""
    _load_all()
    return {name: _scoped(fn) for name, fn in _ordered(QUERIES).items()}


def get_oracles() -> dict[str, str]:
    _load_all()
    return _ordered(ORACLES)
