"""1-Bucket-Theta blocked join: the blocked rewrite must produce every
qualifying pair EXACTLY ONCE (each A row meets each B row in precisely
one (row, col) cell) and must plan as an equi join on cell ids — never
a CartesianProduct and never a BroadcastNestedLoopJoin."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from wordcount_spark.operators.relational import theta_grid, theta_join_blocked
from wordcount_spark.plans.explain import formatted_plan
from wordcount_spark.sources.readers import load_table


def test_blocked_theta_equals_naive_join(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_acctbal"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    theta = F.col("c_acctbal") > F.col("s_acctbal") * 2
    blocked = {
        (r["s_suppkey"], r["c_custkey"])
        for r in theta_join_blocked(
            sup, cust, theta, "s_suppkey", "c_custkey", r_blocks=3, c_blocks=5
        ).collect()
    }
    naive = {
        (r["s_suppkey"], r["c_custkey"])
        for r in sup.join(cust, theta).collect()
    }
    assert blocked == naive
    # exactly-once: the blocked join returns a SET-sized bag (no pair
    # meets in two cells)
    n_rows = theta_join_blocked(
        sup, cust, theta, "s_suppkey", "c_custkey", r_blocks=3, c_blocks=5
    ).count()
    assert n_rows == len(naive)


def test_blocked_theta_plans_equi_join(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    plan = formatted_plan(
        theta_join_blocked(
            sup, cust, F.col("c_acctbal") > F.col("s_acctbal") * 2,
            "s_suppkey", "c_custkey",
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the whole point: the theta join runs as an equi join on cell ids
    assert "Join" in plan and "_theta_r" in plan and "_theta_c" in plan


def test_grid_sized_from_measured_inputs_non_square():
    """VERDICT r5 item 4: the grid derives from MEASURED side counts and
    the session parallelism via the paper's square-root rule — not a
    hardcoded 4×4. A lopsided |A| ≪ |B| input must get a lopsided grid
    (more column-blocks than row-blocks), the grid must track the
    parallelism, and degenerate inputs must clamp to a single cell."""
    # square inputs -> the square-root rule exactly
    assert theta_grid(10_000, 10_000, 16) == (4, 4)
    assert theta_grid(10_000, 10_000, 64) == (8, 8)
    # 100x lopsided inputs -> the grid tilts the same way: R*C ~ P with
    # C/R ~ n_b/n_a, so each cell still holds ~n_a*n_b/P pairs
    r, c = theta_grid(1_000, 100_000, 64)
    assert c > r
    assert r * c == pytest.approx(64, rel=0.3)
    # blocks never exceed the side's row count; empty/tiny inputs -> 1x1
    assert theta_grid(0, 0, 32) == (1, 1)
    # clamping one axis re-budgets the other (ADVICE r6): extreme skew
    # must NOT blow R*C past the parallelism (the raw rule gives
    # R=0.008 -> clamp 1, and keeping the raw C=4000 made 4000 cells)
    assert theta_grid(2, 1_000_000, 32) == (1, 32)
    for na, nb, p in ((2, 1_000_000, 32), (1, 10**9, 64), (10**9, 3, 16)):
        r, c = theta_grid(na, nb, p)
        assert r * c <= 2 * p, (na, nb, p, r, c)
        assert r <= max(na, 1) and c <= max(nb, 1)


def test_temp_columns_collision_free(spark):
    """ADVICE r5: inputs that already carry ``_theta_r``/``_theta_c``
    must not break the helper — temp block-id names are generated
    collision-free against both schemas."""
    a = spark.range(6).select(
        F.col("id").alias("a_id"), (F.col("id") * 2).alias("_theta_r")
    )
    b = spark.range(6).select(
        F.col("id").alias("b_id"), (F.col("id") * 3).alias("_theta_c")
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in theta_join_blocked(
            a, b, F.col("a_id") < F.col("b_id"), "a_id", "b_id",
            r_blocks=2, c_blocks=2,
        ).collect()
    }
    want = {(i, j) for i in range(6) for j in range(6) if i < j}
    assert got == want


def test_shared_column_names_rejected(spark):
    """ADVICE r5: overlapping schemas would emit ambiguous duplicate
    columns after the cell-id equi join — fail loudly, not downstream."""
    a = spark.range(3).select("id", F.lit(1).alias("v"))
    b = spark.range(3).select(F.col("id").alias("bid"), F.lit(2).alias("v"))
    with pytest.raises(ValueError, match="disjoint"):
        theta_join_blocked(a, b, F.lit(True), "id", "bid")


def test_default_grid_builds_without_jobs(spark, sf_dir):
    """The default grid is sized from Catalyst's byte estimates, so
    building the join (and the registered query over it) runs no Spark
    job, and its pairs are those of any explicit grid."""
    from wordcount_spark.plans.metrics import jobs_run
    from wordcount_spark.registry import get_queries

    build = get_queries()["join_theta_blocked"]
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    theta = F.col("c_acctbal") > F.col("s_acctbal") * 2

    def pairs(df):
        return sorted((r["s_suppkey"], r["c_custkey"]) for r in df.collect())

    jobs0 = jobs_run(spark)
    build(spark, sf_dir)
    sized = theta_join_blocked(sup, cust, theta, "s_suppkey", "c_custkey")
    assert jobs_run(spark) == jobs0
    explicit = theta_join_blocked(
        sup, cust, theta, "s_suppkey", "c_custkey", r_blocks=2, c_blocks=3
    )
    assert pairs(sized) == pairs(explicit)
