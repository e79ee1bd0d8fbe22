"""Whole-stage-codegen compile limits are a SCALE axis (SCALE.md §18).

Round 7 found ``eval_rp_lsh_recall``'s 16×64 unrolled band projection
(~1024 ``element_at`` terms in ONE generated method) blowing janino's
64 KB method limit: Spark silently dropped the entire
scan→band→filter→agg stage to interpreted execution — correct rows,
2.5× the wall, invisible to every correctness check. The fix is
loop-shaped HOFs (``zip_with`` + ``aggregate``); the guard was the
manually-run strict-codegen session in ``tools/stability_check.py``.

VERDICT r7 item 5 promotes that guard into ``pytest tests/``: the
session fixture in conftest.py now runs with
``spark.sql.codegen.fallback=false``, so every executing test — in
particular the registry-wide oracle sweep in test_registry_contract —
IS the strict sweep. This module is the guard's self-test: it
reconstructs the pre-fix overflow shape and asserts the strict session
turns it into a hard error (i.e. the promotion demonstrably fails on
the exact shape that slipped through before), and pins the session
conf so a conftest refactor can't silently re-enable the fallback.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_session_is_strict_codegen(spark):
    assert spark.conf.get("spark.sql.codegen.fallback") == "false", (
        "test session must run with codegen fallback OFF — it is the "
        "suite-wide guard against silent interpreted-execution drops"
    )


def _prefix_unrolled_bands(spark, sf_dir: str):
    """The PRE-FIX eval_rp_lsh_recall band frame, verbatim (git ae2e778^):
    a projection over the parquet embeddings SCAN holding 16 unrolled
    sign expressions of 64 ``element_at`` terms each — ~1024 expressions
    whose inputs are the scan's codegen locals, which whole-stage codegen
    cannot split into sub-methods (splitExpressionsWithCurrentInputs
    refuses when the inputs are currentVars), so the whole stage lands in
    one janino method. NOTE the scan is load-bearing: the same expression
    tree over an in-memory literal array constant-folds away
    (SimplifyExtractValueOps turns element_at(array(...), lit) into a
    direct reference) and never overflows — measured while building this
    test."""
    from wordcount_spark.operators.queries_similarity import _plane_signs
    from wordcount_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    planes = _plane_signs(16, 64)

    def dot_sign(row: list[int]):
        pos = [
            F.element_at("embedding", i + 1).cast("double")
            for i, s in enumerate(row)
            if s == 1
        ]
        neg = [
            F.element_at("embedding", i + 1).cast("double")
            for i, s in enumerate(row)
            if s == -1
        ]
        pos_sum = sum(pos[1:], pos[0])
        dot = pos_sum - sum(neg[1:], neg[0]) if neg else pos_sum
        return F.when(dot > 0, F.lit("1")).otherwise(F.lit("0"))

    band_cols = [
        F.concat(*[dot_sign(planes[b * 4 + j]) for j in range(4)]).alias(f"b{b}")
        for b in range(4)
    ]
    return emb.select("vec_id", *band_cols)


def test_strict_session_hard_errs_on_codegen_overflow(spark, sf_dir):
    """The pre-fix candidate stage must FAIL under the test session, not
    silently run interpreted. (Before the conftest promotion this executed
    green — correct rows, interpreted stage — which is exactly the failure
    mode r7 could only catch by manually running tools/stability_check.py
    and reading its stderr.) The overflow needs the FILTER on the band
    columns: predicate pushdown through the Project substitutes the band
    aliases into the pushed condition, so the scan→project→filter→agg
    stage carries the ~1024-term forest twice (~2× the projection alone,
    which on its own still compiles — measured)."""
    df = _prefix_unrolled_bands(spark, sf_dir)
    qvals = df.filter(F.col("vec_id") == 0).first()
    cand = df.filter(
        (F.col("vec_id") != 0)
        & (
            (F.col("b0") == qvals["b0"])
            | (F.col("b1") == qvals["b1"])
            | (F.col("b2") == qvals["b2"])
            | (F.col("b3") == qvals["b3"])
        )
    ).select("vec_id")
    with pytest.raises(Exception, match="(?i)compil|64 KB|grows beyond"):
        cand.count()


def test_loop_shaped_band_projection_compiles(spark):
    """The shipped fix's shape (zip_with + aggregate per plane — loop code,
    O(1) generated size per plane) compiles and executes under the same
    strict session, at the SAME 16×64 scale that overflows unrolled."""
    import random

    rng = random.Random(0xC0DE)
    df = spark.range(8).select(
        F.array(*[(F.col("id") * (i + 1)).cast("double") for i in range(64)])
        .alias("embedding")
    )

    def dot_sign(row: list[int]):
        slit = F.array(*[F.lit(s) for s in row])

        def side(keep: int):
            terms = F.zip_with(
                "embedding",
                slit,
                lambda x, s: F.when(s == F.lit(keep), x.cast("double")).otherwise(
                    F.lit(0.0)
                ),
            )
            return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)

        dot = side(1) - side(-1)
        return F.when(dot > 0, F.lit("1")).otherwise(F.lit("0"))

    planes = [[rng.choice((1, -1)) for _ in range(64)] for _ in range(16)]
    rows = df.select(F.concat(*[dot_sign(p) for p in planes]).alias("sig")).collect()
    assert len(rows) == 8 and all(len(r.sig) == 16 for r in rows)


#: the perfbench headline mix; ~120 distinct whole-stage classes per pass,
#: past Spark's default codegen cache of 100 entries
_WORKING_SET = ("q9_pseudo_profit", "events_gapfill_hourly", "pipeline_pretrain_full")


def test_warm_pass_compiles_nothing(spark, sf_dir):
    """The session's codegen cache holds a repeat pass's whole working set:
    building and running the same queries again compiles no class."""
    from wordcount_spark.plans.metrics import codegen_compiles
    from wordcount_spark.registry import get_queries

    queries = get_queries()

    def one_pass():
        for name in _WORKING_SET:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    one_pass()
    before = codegen_compiles(spark)
    one_pass()
    assert codegen_compiles(spark) - before == 0
