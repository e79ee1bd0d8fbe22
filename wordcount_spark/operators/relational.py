"""Relational operator building blocks shared by the registered queries.

The reference has NO joins/windows/rollups (SURVEY.md §2.7) — this module is
the extension surface re-expressed Spark-first on the TPC-H-ish star schema.

Oracle-parity conventions (driver hashes stringified values):

- Money arithmetic is done in DECIMAL: each double is cast to
  ``DECIMAL(18,2)`` *before* multiplying/summing, so results are exact and
  bit-identical between Spark and DuckDB regardless of partition/sum order.
  (Summing raw doubles is order-dependent — a different last-ulp per run.)
- Every computed column is aliased identically on both sides.
- Any LIMIT/top-k query orders by a UNIQUE key chain so the selected rowset
  is deterministic.

Scale notes: dimension tables (region/nation/supplier, and part at most
SFs) are broadcast — no shuffle of the fact table for those joins. Fact-fact
joins (lineitem⋈orders) shuffle on the join key; AQE coalesces/splits
post-shuffle partitions at runtime, which is the 100 TB-safe default.
Building a frame here runs no job: the theta grid reads plan statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def dec(col: Column | str) -> Column:
    """Exact 2-dp decimal view of a money double (see module docstring)."""
    return F.col(col).cast(DEC) if isinstance(col, str) else col.cast(DEC)


def stable_round(col: Column, digits: int) -> Column:
    """Engine-stable d-digit truncation for doubles that can land ON the
    rounding lattice (ratios of small integers: percent_rank, feature
    ratios). ``round()`` breaks ties differently per engine (Spark rounds
    the shortest decimal repr, DuckDB the exact binary value), so a value
    within an ulp of ``x.…5`` flips. floor() moves the hazard to INTEGER
    lattice points — which ratio data hits exactly — so a 1e-6 nudge
    shifts the boundary off the lattice: cross-engine ulp noise (~1e-12
    relative) cannot straddle it, and real values a full 1e-6 below an
    integer are not lattice points of ratio-valued data. ``+ 0.0``
    canonicalizes -0.0. SQL twin: ``floor(x * 1eD + 1e-6) / 1eD + 0.0``.
    """
    scale = float(10 ** digits)
    return F.floor(col * scale + 1e-6) / scale + 0.0


def stable_round_sql(expr: str, digits: int) -> str:
    """DuckDB rendering of ``stable_round`` (must stay textually parallel)."""
    scale = float(10 ** digits)
    return f"floor(({expr}) * {scale} + 1e-6) / {scale} + 0.0"


def dbl(col: Column | str) -> Column:
    """Canonical OUTPUT form of an exact decimal: cast to DOUBLE.

    Decimal stays internal (exact, order-independent sums); the output
    column must be DOUBLE because the driver's hasher coerces both engines
    through pandas — DuckDB DECIMAL becomes float64 (``"253942.0"``) while
    Spark DecimalType survives as ``decimal.Decimal`` (``"253942.00"``),
    so a DECIMAL-typed output hash-mismatches on trailing zeros. Casting
    the identical exact decimal to DOUBLE on both sides yields the same
    bits, hence the same string, under every coercion path. Mirror rule in
    oracle SQL: ``CAST(sum(...) AS DOUBLE)``."""
    return F.col(col).cast("double") if isinstance(col, str) else col.cast("double")


def sort_small(df: DataFrame, *cols) -> DataFrame:
    """ORDER BY for an O(groups) result: ``coalesce(1)`` then
    ``sortWithinPartitions``. A global ``orderBy`` runs a job of its own
    to sample range bounds and then a range exchange; for a few thousand
    rows those fixed costs are most of the query. Here the stage that
    produces the result runs as one task and sorts it in place, so the
    collected rows come back in order with no extra job or shuffle.
    Never for an output that grows with the data: one task holds it all."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def theta_grid(n_a: int, n_b: int, parallelism: int) -> tuple[int, int]:
    """1-Bucket-Theta grid sizing (Okcan & Riedewald SIGMOD 2011 §4): tile
    the |A|×|B| join matrix with ~``parallelism`` near-square cells so each
    reducer owns ≈ n_a*n_b/parallelism pairs — R = sqrt(n_a·P/n_b) rows,
    C = sqrt(n_b·P/n_a) columns (R·C ≈ P; for n_a = n_b this is the
    paper's square-root rule R = C = sqrt(P)); sizes may be rows or
    bytes. Blocks are clamped to the side's size and to ≥ 1, so tiny or
    empty inputs degrade to a single cell. Clamping one axis RE-BUDGETS the other (ADVICE r6): on
    extreme skew the raw rule gives R < 1, and pinning R to 1 while
    keeping the raw C blows R·C far past the parallelism (n_a=2, n_b=1e6,
    P=32 gave a 1×4000 grid — 4000 reducers each holding 1/4000th of B
    for no balance gain), so the unclamped axis is shrunk until R·C stays
    O(P)."""
    import math

    n_a, n_b, parallelism = max(n_a, 1), max(n_b, 1), max(parallelism, 1)
    r = max(1, min(round(math.sqrt(n_a * parallelism / n_b)), n_a))
    c = max(1, min(round(math.sqrt(n_b * parallelism / n_a)), n_b))
    if r * c > 2 * parallelism:  # a clamp inflated the product
        if r <= c:
            c = max(1, math.ceil(parallelism / r))
        else:
            r = max(1, math.ceil(parallelism / c))
    return r, c


def theta_join_blocked(
    a: DataFrame,
    b: DataFrame,
    theta: Column,
    a_key: str,
    b_key: str,
    r_blocks: int | None = None,
    c_blocks: int | None = None,
) -> DataFrame:
    """General theta-join via 1-Bucket-Theta matrix blocking (Okcan &
    Riedewald, "Processing theta-joins using MapReduce", SIGMOD 2011):
    every A row takes ONE row-block (hash of ``a_key``) and replicates
    across all ``c_blocks`` column-blocks; every B row takes ONE
    column-block and replicates across all ``r_blocks`` row-blocks; an
    EQUI join on the (row, col) cell id brings each (a, b) pair together
    EXACTLY ONCE, where ``theta`` — an arbitrary predicate, no equi
    component required — is evaluated.

    Scale: an inherently quadratic join cannot avoid |A|x|B| predicate
    evaluations, but it CAN avoid the two classic failure modes: a
    CartesianProduct (one task owns everything) and a skewed key route.
    Blocking guarantees every cell holds |A|/R x |B|/C pairs REGARDLESS
    of value skew (block ids come from a hash, not from join values), so
    work is level across R*C reducers; memory per task is one A-block +
    one B-block. When ``r_blocks``/``c_blocks`` are None (the default)
    the grid is sized from Catalyst's byte estimate of each input
    (``optimizedPlan().stats().sizeInBytes``, which runs no job, so
    building the join costs nothing until its action): :func:`theta_grid`
    applies the paper's square-root rule to the two sizes against the
    session's default parallelism, so on a 1000-executor cluster the grid
    widens with the cluster and each task still holds one block pair.
    The estimate only shapes the grid (its ``R ≤ n_a`` clamp becomes a
    byte clamp); results are exact for any grid. Replication multiplies
    shuffle bytes by C (A side) and R (B side) — the documented price of
    a balanced theta join; for predicates with a usable band structure
    prefer `range_join_value_bands`/as-of, which prune instead of
    replicate. Hash-assigned blocks are deterministic, so results are
    partitioning-invariant (duplicate keys share a block — fine unless
    one key is a large fraction of a side; salt ``a_key`` with a
    secondary column then).

    The inputs' schemas must be DISJOINT (ADVICE r5): the cell-id equi
    join would otherwise emit ambiguous duplicate columns — alias-qualify
    before calling. The two temp block-id columns are generated
    collision-free against both schemas.
    """
    overlap = set(a.columns) & set(b.columns)
    if overlap:
        raise ValueError(
            f"theta_join_blocked requires disjoint schemas; shared column(s) "
            f"{sorted(overlap)} would be ambiguous after the cell join — "
            f"alias-qualify (df.select(F.col(c).alias(...))) before calling"
        )
    if r_blocks is None or c_blocks is None:
        par = a.sparkSession.sparkContext.defaultParallelism
        stats = [df._jdf.queryExecution().optimizedPlan().stats() for df in (a, b)]
        r_auto, c_auto = theta_grid(*(int(s.sizeInBytes()) for s in stats), par)
        r_blocks = r_auto if r_blocks is None else r_blocks
        c_blocks = c_auto if c_blocks is None else c_blocks
    taken = set(a.columns) | set(b.columns)
    rcol, ccol = "_theta_r", "_theta_c"
    i = 0
    while rcol in taken or ccol in taken:
        i += 1
        rcol, ccol = f"_theta_r{i}", f"_theta_c{i}"
    ar = a.withColumn(rcol, F.pmod(F.xxhash64(a_key), F.lit(r_blocks)))
    a_rep = ar.withColumn(
        ccol, F.explode(F.sequence(F.lit(0), F.lit(c_blocks - 1)))
    )
    bc = b.withColumn(ccol, F.pmod(F.xxhash64(b_key), F.lit(c_blocks)))
    b_rep = bc.withColumn(
        rcol, F.explode(F.sequence(F.lit(0), F.lit(r_blocks - 1)))
    )
    return a_rep.join(b_rep, [rcol, ccol]).where(theta).drop(rcol, ccol)
