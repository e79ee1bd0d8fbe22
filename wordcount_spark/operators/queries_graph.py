"""Iterative graph processing: PageRank by power iteration over the part
co-purchase graph (extension surface, SURVEY.md §2.7 — alongside k-means
and PCA this covers the iterative-algorithm class the reference lacks).

Graph construction: two parts are connected when they appear in the same
order (the market-basket self-join, cf. ``basket_part_pairs``), edge
weight = number of co-occurring orders, both directions present. Ranks
use the simplified formulation (no dangling-mass redistribution): nodes
with no in-edges settle at (1-d)/N.

Scale notes: each iteration is one join (edges ⋈ ranks on src) plus one
aggregation shuffle on dst — the textbook Pregel/GraphX pattern expressed
as DataFrames. The edge list is the big invariant side: it is cached once
and its partitioning is reused every iteration. The rank join carries no
hint: the rank vector is a |V|-sized checkpoint whose size the planner
knows, so it broadcasts while it fits under the broadcast threshold and
becomes a shuffle join past it (sf0.1: broadcast). A fixed iteration
count (K=5) keeps the oracle expressible as unrolled SQL; production
would loop to an L1-delta threshold with ``localCheckpoint`` every few
rounds to truncate lineage.

Float determinism: per-node contribution sums are order-dependent double
additions (~1e-15 relative drift between engines); ranks are rounded to
6 dp on both sides — drift is ~9 orders of magnitude below the grain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.operators.relational import (
    dbl,
    sort_small,
    stable_round,
    stable_round_sql,
)
from wordcount_spark.registry import register
from wordcount_spark.sources.readers import load_table
from wordcount_spark.operators.caching import bounded_cache

# damping 0.85 appears as PAIRED literals 0.85/0.15 in both the Spark loop
# and the oracle SQL below — a single _D constant would be a trap, because
# 1 - 0.85 in float is 0.15000000000000002, not the 0.15 literal the SQL
# needs to match bit-for-bit
_K = 5  # fixed power iterations (mirrored exactly in the oracle)


def _oracle() -> str:
    """Unrolled K-iteration PageRank in DuckDB SQL (numeric literals cast
    to DOUBLE — DuckDB decimals would diverge from Spark's doubles)."""
    iters = []
    prev = "r0"
    for k in range(1, _K + 1):
        iters.append(
            f"""
    r{k} AS (
      SELECT r0.node,
             CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
               + CAST(0.85 AS DOUBLE) * coalesce(s.c, CAST(0 AS DOUBLE)) AS rank
      FROM (SELECT node FROM r0) r0
      LEFT JOIN (
        SELECT e.dst AS node, sum(e.frac * r.rank) AS c
        FROM e JOIN {prev} r ON e.src = r.node GROUP BY 1
      ) s USING (node)
    )"""
        )
        prev = f"r{k}"
    return f"""
    WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
      FROM po a JOIN po b USING (l_orderkey)
      WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2
    ),
    e AS (SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS frac FROM edges),
    nn AS (SELECT count(*) AS n FROM part),
    r0 AS (SELECT p_partkey AS node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank
           FROM part),
    {','.join(iters)}
    SELECT node AS part_key, round(rank, 6) AS rank
    FROM {prev} ORDER BY part_key
    """


@register("graph_pagerank_parts", _oracle(), eager=True)
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=5 power iterations of PageRank over the part co-purchase graph;
    see module docstring for graph construction and scale notes."""
    po = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # self-joined below: pin or the distinct (a full shuffle of the
        # fact projection) runs once per join side
        .transform(bounded_cache)
    )
    edges = (
        po.alias("a")
        .join(po.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    wout = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    e = (
        edges.join(wout, "src")
        .select("src", "dst", (F.col("w") / F.col("wout")).alias("frac"))
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .transform(bounded_cache)
    )
    nodes = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node")
    )
    n = nodes.count()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(_K):
        # the big cached edge list never moves while the rank vector fits
        # under the broadcast threshold; past it the join shuffles and
        # reuses e's cached src-partitioning
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("frac") * F.col("rank")).alias("c"))
        )
        # truncate lineage every iterate: otherwise materializing iterate k
        # re-runs the whole 1..k-1 chain (O(K²) stages), and a lazy cache
        # in the middle blocks AQE from coalescing the tiny shuffles. The
        # vector is |V|-sized, so the per-iterate materialization is cheap.
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(0.15) / F.lit(float(n))
                    + F.lit(0.85) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("node").alias("part_key"), F.round("rank", 6).alias("rank")
    ).orderBy("part_key")


_REACH_SQL_BODY = """
    WITH RECURSIVE po AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM {lineitem}
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM po a JOIN po b {using_clause}
      WHERE a.l_partkey <> b.l_partkey
    ),
    reach(part_key, lvl) AS (
      SELECT min(l_partkey), 0 FROM {lineitem}
      UNION ALL
      SELECT e.dst, r.lvl + 1
      FROM reach r JOIN edges e ON e.src = r.part_key
      WHERE r.lvl < 2
    )
    SELECT part_key, min(lvl) AS dist, count(*) AS n_paths
    FROM reach GROUP BY part_key ORDER BY part_key
"""


@register(
    "graph_recursive_reach",
    _REACH_SQL_BODY.format(lineitem="lineitem", using_clause="USING (l_orderkey)"),
)
def graph_recursive_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability (≤2 hops) from the smallest part key over the
    co-purchase graph, written as a Spark 4 RECURSIVE CTE — the iterative
    plan is driven by the engine itself (each recursion step is one
    join+filter round, unioned) rather than a Python loop; ``n_paths``
    counts distinct BFS walks, ``dist`` is the hop distance.

    Spark and DuckDB run the textually identical statement (modulo the
    join spelling) — recursion semantics (UNION ALL + level guard) are
    ANSI. Scale: each step's frontier joins the distinct edge list once;
    a depth guard bounds state. For unbounded-depth closures prefer the
    dataframe loop with localCheckpoint (graph_pagerank_parts pattern)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "__reach_lineitem"
    )
    return spark.sql(
        _REACH_SQL_BODY.format(
            lineitem="__reach_lineitem",
            using_clause="ON a.l_orderkey = b.l_orderkey",
        )
    )


def _undirected_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected co-purchase edges (u < v) between parts sharing
    an order — the input for the static graph-metric queries below.

    Built basket-style: ONE shuffle groups each order's parts into a
    sorted array, pairs expand in-array (narrow — baskets are small, the
    per-order pair count is bounded by basket size², not graph size),
    then one distinct shuffle on the pairs. The self-join formulation
    (used by the oracles and the PageRank edge builder) costs an extra
    full shuffle of the fact table for the same result; a pathological
    mega-basket would be the skew case — cap or salt baskets first.

    Cached: every caller branches on this frame at least twice (degree
    table + orientation/peel), and Spark does not reuse exchanges across
    branches — uncached, the basket expansion of lineitem re-runs per
    branch (measured ~10% of triangle-count wall-clock at sf0.1). |E|-row
    pin of 2 longs, within the DEPLOY.md cache-pin policy."""
    parts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .where(F.size("ps") >= 2)
    )
    pairs = parts.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
            )
        ).alias("e")
    )
    return pairs.select("e.u", "e.v").distinct().transform(bounded_cache)


def _degrees(und: DataFrame) -> DataFrame:
    """(u, v) undirected edges → (node, d) degree table — the one shared
    definition the degree distribution, triangle orientation, and k-core
    peel all hang off (a drifted copy would silently desynchronize the
    orientation from the distribution)."""
    return (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


_UND_SQL = """
    po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM po a JOIN po b USING (l_orderkey)
      WHERE a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
      GROUP BY node
    )
"""


@register(
    "graph_degree_distribution",
    f"""
    WITH {_UND_SQL}
    SELECT d AS degree, count(*) AS n_nodes
    FROM deg GROUP BY d ORDER BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph — the standard first-look
    graph statistic (power-law check drives every later algorithm choice:
    a heavy tail means degree-ordered triangle counting and skew-salted
    joins are mandatory, cf. ``graph_triangle_count``).

    Scale: edges → one union-all projection → two narrow aggregations; the
    histogram is tiny (distinct degrees ≪ |V|: 177 at sf0.1), so it sorts
    in one task (``sort_small``)."""
    und = _undirected_copurchase(spark, sf_dir)
    hist = _degrees(und).groupBy(F.col("d").alias("degree")).agg(
        F.count("*").alias("n_nodes")
    )
    return sort_small(hist, "degree")


@register(
    "graph_triangle_count",
    f"""
    WITH {_UND_SQL},
    o AS (
      SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS src,
             CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS dst,
             CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS ddst
      FROM und
      JOIN deg du ON du.node = u
      JOIN deg dv ON dv.node = v
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM o e1
      JOIN o e2 ON e1.src = e2.src
       AND (e1.ddst < e2.ddst OR (e1.ddst = e2.ddst AND e1.dst < e2.dst))
      JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    wed AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg)
    SELECT n_triangles, n_wedges,
           CASE WHEN n_wedges = 0 THEN NULL
                ELSE round(3.0 * n_triangles / n_wedges, 6) END
             AS global_clustering
    FROM tri, wed
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient over the
    co-purchase graph, via **degree orientation**: every undirected edge
    is directed from its lower-(degree, id) endpoint, so each triangle
    x<y<z (in that order) is counted exactly once as the wedge (x→y, x→z)
    closed by x's smaller neighbor's edge y→z.

    Scale: wedge enumeration is the quadratic hazard — naive id-ordering
    makes a celebrity node with degree d generate O(d²) wedges on ONE key.
    Degree orientation bounds every node's out-degree by O(√|E|)
    (arboricity argument), which is exactly the fix that survives a
    power-law graph at 100 TB. On top of that, the Spark side never
    MATERIALIZES the wedge stream (148M rows at sf0.1): it runs the
    edge-iterator variant — per-src out-neighbor arrays, one row per
    edge (u→v), triangles = |N⁺(u) ∩ N⁺(v)| via `array_intersect` — so
    the O(wedges) work happens inside a map-side array intersection
    instead of a join carrying one row per wedge. Forms that explode
    N⁺(v) into candidate rows and semi-join them against the edges
    materialize Σ outdeg(dst) rows instead (49.2M at sf0.1) and cost
    twice the executor CPU even with every join broadcast (22.4 s
    against 11.0 s, SCALE.md §24).

    No join carries a hint: AQE picks each strategy at runtime from real
    sizes. The edge side is the adjacency pin exploded back rather than a
    pin of its own, so the edge scan and both probe sides hang off ONE
    cache stage. AQE materializes that stage before it plans any exchange
    over it, sees the |E|-longs adjacency fits, and broadcasts it (sf0.1:
    every join a BroadcastHashJoin, no build-time job); past the broadcast
    threshold the joins shuffle on src/dst, still never materializing
    wedges. With a separate edge pin, that pin's ``hashpartitioning(src)``
    exchange runs before the adjacency's size is known, and the broadcast
    conversion comes too late (sf0.1: 35.1 against 23.6 MB shuffle
    write). The DuckDB oracle keeps the classic wedge-close join —
    two independent algorithms must agree, which is the point.
    """
    und = _undirected_copurchase(spark, sf_dir)
    # cached: deg feeds the orientation (twice) AND the wedge count; it is
    # node-cardinality, a standard pin for a triangle-count job at any scale
    deg = bounded_cache(_degrees(und))
    # orient: src = lower (degree, id) endpoint; struct comparison gives the
    # lexicographic (d, node) order in both engines
    du, dv = deg.alias("du"), deg.alias("dv")
    lower_u = F.struct(F.col("du.d"), F.col("u")) < F.struct(
        F.col("dv.d"), F.col("v")
    )
    # cached: the closing stage reads it three times (edge scan, both probe
    # sides), and an uncached adjacency re-runs its groupBy(src) +
    # collect_list exchange once per reader (measured r10: two identical
    # 12.9 MB exchanges per action at sf0.1). O(|E|) longs.
    adj = bounded_cache(
        und.join(du, F.col("du.node") == F.col("u"))
        .join(dv, F.col("dv.node") == F.col("v"))
        .select(
            F.when(lower_u, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
    )
    # a triangle x<y<z (in (deg, id) order) is found exactly once, at edge
    # (x→y), as z ∈ N⁺(x) ∩ N⁺(y); the edges are the adjacency exploded
    # back, not a pin of their own (see the docstring)
    au, av = adj.alias("au"), adj.alias("av")
    tri = (
        adj.select("src", F.explode("nbrs").alias("dst"))
        .alias("e")
        .join(au, F.col("au.src") == F.col("e.src"))
        .join(av, F.col("av.src") == F.col("e.dst"))
        .agg(
            F.sum(
                F.size(F.array_intersect(F.col("au.nbrs"), F.col("av.nbrs")))
            )
            .cast("long")
            .alias("n_triangles")
        )
        .select(F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"))
    )
    # per-node wedge count stays integer end-to-end: integer `div` matches
    # DuckDB's `//` exactly (double division would lose exactness past 2^53)
    wed = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges")
    )
    return tri.crossJoin(wed).select(
        "n_triangles",
        "n_wedges",
        F.when(
            F.col("n_wedges") != 0,
            F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6),
        ).alias("global_clustering"),
    )


# The core order, fixed so the test and oracle can mirror it. 65 sits in
# the co-purchase graph's degree transition band at BOTH test SFs
# (sf0.001: 188 of 200 nodes survive after 3 peel rounds; sf0.01: 1992 of
# 2000 after 1 round) — the old k=5 was below every node's degree, so the
# peel never actually peeled on real data and the check was vacuous.
_KCORE_K = 65

# Data-dependent fixpoint expressed as a DuckDB recursive CTE: the state
# is ONE row per peel round carrying the sorted survivor list; the
# recursive term recomputes in-survivor degrees and emits only while the
# list still changes, so recursion length = peel depth (no unrolling; the
# it < 60 guard mirrors the Spark side's iteration cap).
_KCORE_SQL = f"""
    WITH RECURSIVE {_UND_SQL},
    adj AS (SELECT u AS node, v AS other FROM und
            UNION ALL SELECT v, u FROM und),
    peel(it, members) AS (
      SELECT 0 AS it,
             (SELECT list_sort(list(DISTINCT node)) FROM adj) AS members
      UNION ALL
      SELECT it + 1, coalesce(nxt, []) FROM (
        SELECT it, members,
          (SELECT list_sort(list(node)) FROM (
             SELECT node FROM adj
             WHERE list_contains(members, node)
               AND list_contains(members, other)
             GROUP BY node HAVING count(*) >= {{k}}
          ) s) AS nxt
        FROM peel
      ) t
      WHERE coalesce(nxt, []) IS DISTINCT FROM members AND it < 60
    ),
    final AS (SELECT members FROM peel ORDER BY it DESC LIMIT 1)
    SELECT node, CAST(count(*) AS BIGINT) AS core_degree
    FROM adj, final
    WHERE list_contains(members, node) AND list_contains(members, other)
    GROUP BY node ORDER BY node
"""


@register("graph_kcore_members", _KCORE_SQL.format(k=_KCORE_K), eager=True)
def graph_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core of the co-purchase graph (k=65, inside the degree transition
    band so the peel genuinely cascades): the maximal subgraph where
    every node keeps ≥ k neighbors — the standard "dense backbone"
    extractor (community seeds, spam-graph pruning, visualization
    filtering). Iterative peel: drop nodes with degree < k, recompute
    degrees on the induced subgraph, repeat to fixpoint. STRONG oracle
    (upgraded from rows-only in r4): DuckDB's recursive CTE runs the same
    data-dependent fixpoint over a survivor-list state row, so two
    independent peel implementations must agree on membership AND in-core
    degrees; the Python-peel differential test (tests/test_graph.py) is
    the third implementation.

    Scale: each round is one degree aggregation + one semi-join of the
    edge list against surviving nodes — the edge frame shrinks
    monotonically, so later rounds are cheaper, and the loop
    localCheckpoints each round (pagerank pattern: truncate lineage, keep
    AQE free to re-plan the shrinking joins). Convergence is data-driven
    with a hard iteration cap; each round's survivor count is the
    monotone progress measure. Output: surviving nodes with their degree
    inside the core.
    """
    und = _undirected_copurchase(spark, sf_dir).localCheckpoint(eager=True)
    edges = und  # both directions counted via the union below
    n_edges = edges.count()
    converged = False
    for _ in range(30):  # safety cap; peel converges in ≪30 rounds in practice
        deg = _degrees(edges)
        keep = deg.where(F.col("d") >= _KCORE_K).select("node")
        pruned = (
            edges.join(
                keep.withColumnRenamed("node", "u"), "u", "left_semi"
            )
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n_pruned = pruned.count()
        if n_pruned == n_edges:
            converged = True
            break
        edges, n_edges = pruned, n_pruned
    if not converged:
        # an unconverged peel is NOT a k-core (sub-k nodes survive) —
        # failing loudly beats silently returning a wrong subgraph
        raise RuntimeError(
            "k-core peel did not reach fixpoint in 30 rounds; raise the cap"
        )
    return (
        _degrees(edges)
        .select("node", F.col("d").alias("core_degree"))
        .orderBy("node")
    )


@register(
    "graph_link_prediction_cn",
    f"""
    WITH {_UND_SQL},
    adj AS (
      SELECT u AS center, v AS nbr FROM und
      UNION ALL
      SELECT v AS center, u AS nbr FROM und
    ),
    low AS (SELECT node FROM deg WHERE d <= 100),
    adj_low AS (SELECT center, nbr FROM adj WHERE center IN (SELECT node FROM low)),
    cand AS (
      SELECT a.nbr AS u, b.nbr AS w, count(*) AS common_neighbors
      FROM adj_low a JOIN adj_low b
        ON a.center = b.center AND a.nbr < b.nbr
      GROUP BY a.nbr, b.nbr
    )
    SELECT u, w, common_neighbors
    FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = cand.u AND und.v = cand.w)
    ORDER BY common_neighbors DESC, u, w
    LIMIT 20
    """,
)
def graph_link_prediction_cn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the co-purchase graph: for
    node pairs NOT currently connected, count shared neighbors and
    surface the top-20 — the "customers who bought these also bought"
    candidate generator. Wedge enumeration is restricted to centers with
    degree ≤ 100: the hub-center wedges the restriction drops are exactly
    the weak-signal ones (a ubiquitous part co-occurs with everything),
    and the bound caps per-center fan-out at 100² — the wedge stream stays
    O(|low-degree nodes| · cap²) instead of Σd², which is what makes the
    enumeration survivable on a power-law graph at 100 TB. Existing edges
    are removed with an anti-join; top-20 with (u, w) tiebreak is
    deterministic.

    Scale: one shuffle keyed on center for the wedge self-join, one
    map-side-combinable pair count, one anti-join against the edge list;
    the degree filter prunes BEFORE the quadratic step."""
    und = _undirected_copurchase(spark, sf_dir)
    deg = _degrees(und)
    adj = und.select(F.col("u").alias("center"), F.col("v").alias("nbr")).unionAll(
        und.select(F.col("v").alias("center"), F.col("u").alias("nbr"))
    )
    low = deg.where(F.col("d") <= 100).select(F.col("node").alias("center"))
    adj_low = adj.join(low, "center", "left_semi")
    a = adj_low.alias("a")
    b = adj_low.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.center") == F.col("b.center"))
            & (F.col("a.nbr") < F.col("b.nbr")),
        )
        .groupBy(F.col("a.nbr").alias("u"), F.col("b.nbr").alias("w"))
        .agg(F.count("*").alias("common_neighbors"))
    )
    missing = cand.join(
        und, (cand["u"] == und["u"]) & (cand["w"] == und["v"]), "left_anti"
    )
    return missing.orderBy(F.desc("common_neighbors"), "u", "w").limit(20)


@register(
    "graph_adamic_adar",
    f"""
    WITH {_UND_SQL},
    low AS (SELECT node, d FROM deg WHERE d <= 100 AND d >= 2),
    adj AS (
      SELECT u AS center, v AS nbr FROM und
      UNION ALL
      SELECT v AS center, u AS nbr FROM und
    ),
    wgt AS (
      SELECT a.center, a.nbr,
             CAST({stable_round_sql('1.0 / round(ln(l.d), 4)', 6)}
                  AS DECIMAL(18,6)) AS wz
      FROM adj a JOIN low l ON a.center = l.node
    ),
    cand AS (
      SELECT a.nbr AS u, b.nbr AS w, count(*) AS cn, sum(a.wz) AS s
      FROM wgt a JOIN wgt b ON a.center = b.center AND a.nbr < b.nbr
      GROUP BY a.nbr, b.nbr
    )
    SELECT u, w, CAST(cn AS BIGINT) AS common_neighbors,
           CAST(s AS DOUBLE) AS aa_score
    FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = cand.u AND und.v = cand.w)
    ORDER BY aa_score DESC, u, w
    LIMIT 20
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction: common-neighbors weighted by
    1/ln(degree) of the shared neighbor, so a rare co-purchase partner
    counts for more than a ubiquitous one — the standard upgrade over raw
    common-neighbor counting (Adamic & Adar 2003). Same wedge machinery
    as `graph_link_prediction_cn` (degree ≤ 100 centers cap the fan-out
    at cap² per center; d ≥ 2 because ln(1) = 0 cannot weight anything),
    but each wedge carries its center's weight and the pair aggregates a
    SUM instead of a COUNT. Engine parity: ln(d) rounds to 4dp (repo ln
    rule), the reciprocal — a ratio that can land ON the 6dp rounding
    lattice — goes through stable_round, and the per-pair sum is exact
    DECIMAL(18,6) so score order is independent of wedge arrival order;
    one cast to DOUBLE at output.

    Scale: identical profile to the CN query — one center-keyed shuffle
    for the wedge self-join (weights ride along, no extra join), one
    map-side-combinable pair aggregation, one anti-join against the edge
    list. The degree filter prunes BEFORE the quadratic step.
    """
    und = _undirected_copurchase(spark, sf_dir)
    deg = _degrees(und)
    adj = und.select(F.col("u").alias("center"), F.col("v").alias("nbr")).unionAll(
        und.select(F.col("v").alias("center"), F.col("u").alias("nbr"))
    )
    low = deg.where((F.col("d") <= 100) & (F.col("d") >= 2)).select(
        F.col("node").alias("center"), "d"
    )
    wgt = adj.join(low, "center").select(
        "center",
        "nbr",
        stable_round(F.lit(1.0) / F.round(F.log(F.col("d").cast("double")), 4), 6)
        .cast("decimal(18,6)")
        .alias("wz"),
    )
    a = wgt.alias("a")
    b = wgt.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.center") == F.col("b.center"))
            & (F.col("a.nbr") < F.col("b.nbr")),
        )
        .groupBy(F.col("a.nbr").alias("u"), F.col("b.nbr").alias("w"))
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum(F.col("a.wz")).alias("s"),
        )
    )
    missing = cand.join(
        und, (cand["u"] == und["u"]) & (cand["w"] == und["v"]), "left_anti"
    )
    return (
        missing.select("u", "w", "common_neighbors", dbl("s").alias("aa_score"))
        .orderBy(F.desc("aa_score"), "u", "w")
        .limit(20)
    )


@register(
    "graph_walks_deterministic",
    f"""
    WITH {_UND_SQL},
    adj AS (
      SELECT u AS a, v AS b FROM und UNION ALL SELECT v AS a, u AS b FROM und
    ),
    s0 AS (SELECT node AS start FROM deg WHERE d <= 100),
    r1 AS (
      SELECT s0.start, adj.b AS n1,
             row_number() OVER (PARTITION BY s0.start
               ORDER BY md5(CAST(s0.start AS VARCHAR) || '-1-'
                            || CAST(adj.b AS VARCHAR))) AS rn
      FROM s0 JOIN adj ON adj.a = s0.start
    ),
    s1 AS (SELECT start, n1 FROM r1 WHERE rn = 1),
    r2 AS (
      SELECT s1.start, s1.n1, adj.b AS n2,
             row_number() OVER (PARTITION BY s1.start
               ORDER BY md5(CAST(s1.n1 AS VARCHAR) || '-2-'
                            || CAST(adj.b AS VARCHAR))) AS rn
      FROM s1 JOIN adj ON adj.a = s1.n1
    ),
    s2 AS (SELECT start, n1, n2 FROM r2 WHERE rn = 1),
    r3 AS (
      SELECT s2.start, s2.n1, s2.n2, adj.b AS n3,
             row_number() OVER (PARTITION BY s2.start
               ORDER BY md5(CAST(s2.n2 AS VARCHAR) || '-3-'
                            || CAST(adj.b AS VARCHAR))) AS rn
      FROM s2 JOIN adj ON adj.a = s2.n2
    )
    SELECT start, n1, n2, n3 FROM r3 WHERE rn = 1
    ORDER BY start
    """,
)
def graph_walks_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-seeded random walks (the node2vec/DeepWalk corpus generator,
    made engine-reproducible): from every degree-≤100 node, a 3-step walk
    whose next hop minimizes md5(current-step-neighbor) — a deterministic
    stand-in for the RNG transition no two engines could replay
    identically, with the same statistical role (hash-uniform choice
    among neighbors). md5 collisions would need identical inputs, so the
    argmin is unique and the whole walk table is exactly reproducible.

    Scale: the textbook K-round walk extension — each step is ONE join
    of the O(walks) frontier against the (cached, reused) adjacency list
    plus a per-walk top-1 window; K steps = K shuffles of frontier-sized
    frames, never edge×edge. The degree cap bounds the per-node
    neighbor fan-in the window must rank.
    """
    from pyspark.sql import Window

    und = _undirected_copurchase(spark, sf_dir)
    deg = _degrees(und)
    adj = und.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    walks = deg.where(F.col("d") <= 100).select(F.col("node").alias("start"))
    cur = "start"
    for step in (1, 2, 3):
        nxt = f"n{step}"
        w = Window.partitionBy("start").orderBy(
            F.md5(
                F.concat(
                    F.col(cur).cast("string"),
                    F.lit(f"-{step}-"),
                    F.col("b").cast("string"),
                )
            )
        )
        walks = (
            walks.join(adj, walks[cur] == adj["a"])
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("a", "rn")
            .withColumnRenamed("b", nxt)
        )
        cur = nxt
    return walks.select("start", "n1", "n2", "n3").orderBy("start")
