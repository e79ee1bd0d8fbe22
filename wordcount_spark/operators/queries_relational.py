"""Registered relational queries: joins, aggregations, windows, set ops,
subqueries, scalar functions — the operator classes the reference lacks
(SURVEY.md §2.7), each with a DuckDB oracle.

Physical expectations (checked in tests/test_plans.py):
- dim joins are BroadcastHashJoin (no fact shuffle);
- fact-fact joins are shuffle joins on the key, AQE-managed;
- aggregates split partial/final around the exchange;
- parquet scans show pushed filters + pruned columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wordcount_spark.operators.relational import dbl, dec
from wordcount_spark.registry import register
from wordcount_spark.sources.readers import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- aggregation

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-agg. Filter + 2-col grouping push
    into the parquet scan; partial aggs run map-side before one exchange."""
    li = _t(spark, sf_dir, "lineitem")
    price, disc, tax = dec("l_extendedprice"), dec("l_discount"), dec("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dbl(F.sum(dec("l_quantity"))).alias("sum_qty"),
            dbl(F.sum(price)).alias("sum_base_price"),
            dbl(F.sum(price * (1 - disc))).alias("sum_disc_price"),
            dbl(F.sum(price * (1 - disc) * (1 + tax))).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals (flag, flag+status, grand total).

    Scale: Catalyst Expand replicates each row once per grouping level
    BEFORE the single partial/final aggregation exchange — 3x map-side
    rows, never 3 scans; state is O(groups summed over levels)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dbl(F.sum(dec("l_quantity"))).alias("sum_qty"), F.count("*").alias("n")
    )


@register(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations.

    Scale: same Expand-then-aggregate plan as rollup with 2^k grouping
    sets — map-side row replication is the cost knob (4x here); one
    exchange regardless of k."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dbl(F.sum(dec("l_quantity"))).alias("sum_qty")
    )


@register(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL API (same Catalyst Expand plan).

    Scale: identical Expand + single-exchange plan as rollup/cube; listing
    only the needed sets keeps the replication factor minimal."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "agg_distinct",
    """
    SELECT c_nationkey, count(DISTINCT c_mktsegment) AS n_segments,
           count(*) AS n_customers
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (Expand-based two-phase plan in Spark).

    Scale: Spark plans count(DISTINCT x) as Expand + two aggregations —
    dedup keyed on (group, x), then count per group; both exchanges are
    map-side combinable, no driver-side distinct set ever exists."""
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.count("*").alias("n_customers"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "agg_stats",
    """
    SELECT l_returnflag,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           floor((CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
                 * 1000000.0 + 1e-6) / 1000000.0 + 0.0 AS avg_qty,
           round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6) AS median_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg + exact interpolated median (Spark ``percentile``).

    avg is spelled exact-decimal-sum → double → divide (identical IEEE
    doubles both engines) and stable_round'd: engine-native avg() would
    round a DECIMAL on Spark but a DOUBLE in DuckDB, which breaks ties at
    the 6th decimal differently. The median's interpolated midpoint of
    2dp values has zeros in decimal digits 4-6, so round(…,6) has no tie
    surface there.
    Scale: min/max/avg are one partial/final exchange; exact
    ``percentile`` is the deliberate outlier — it buffers each group's
    values (fine on bounded groups like returnflag, wrong for high-card
    groups, where ``approx_percentile`` is the drop-in).
    """
    from wordcount_spark.operators.relational import stable_round

    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            stable_round(
                F.sum(dec("l_quantity")).cast("double") / F.count("*"), 6
            ).alias("avg_qty"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------- joins

@register(
    "join_broadcast_dims",
    """
    SELECT r_name, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake dim chain: both dims broadcast — zero fact-side shuffle
    until the final tiny group-by."""
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            dbl(F.sum(dec("c_acctbal"))).alias("total_acctbal"),
        )
        .orderBy("r_name")
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1996-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact-fact join → top-k.
    customer (filtered, small) broadcasts into orders; orders⋈lineitem
    shuffles on orderkey. LIMIT has a unique tiebreak (l_orderkey)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dbl(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. All dims broadcast; the only big shuffle
    is lineitem⋈orders on orderkey."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    # supplier/customer grow with SF — no hints (engine decides);
    # nation/region are fixed 25/5-row enumerations, hinted
    supp = _t(spark, sf_dir, "supplier")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dbl(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "join_semi",
    """
    SELECT c_nationkey, count(*) AS n_buyers
    FROM customer WHERE EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
    )
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with a pending order.

    Scale: semi join ships only the join KEY of the right side (no
    payload, no row multiplication); broadcasts while the filtered
    orders key-set fits, shuffle-semi beyond."""
    cust = _t(spark, sf_dir, "customer")
    pend = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(pend, cust.c_custkey == pend.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_buyers"))
        .orderBy("c_nationkey")
    )


@register(
    "join_anti",
    """
    SELECT p_brand, count(*) AS n_unsold
    FROM part WHERE NOT EXISTS (
      SELECT 1 FROM lineitem WHERE l_partkey = p_partkey
    )
    GROUP BY p_brand ORDER BY p_brand
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): parts never ordered.

    Scale: same key-only shipping as the semi join; anti joins cannot
    early-out on the probe side, so the build side staying key-only is
    what keeps 100 TB feasible."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_unsold"))
        .orderBy("p_brand")
    )


@register(
    "join_outer",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey
    """,
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join with NULL-aware aggregates (0-order customers kept).

    Scale: pre-aggregating orders per customer BEFORE the outer join
    keeps the join at one row per (customer, match) — no fact-width
    multiplication; one shuffle per side on the shared key."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            dbl(
                F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            ).alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@register(
    "join_full_outer",
    """
    WITH cn AS (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(cn.k, sn.k) AS nationkey,
           coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.k = sn.k
    ORDER BY nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join of two pre-aggregated sides.

    Scale: both sides collapse to O(customers) aggregates before the
    join, so the full-outer (which can never broadcast) shuffles two
    small frames on the same key — the aggregate-then-join ordering is
    the scale decision."""
    cn = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("n_cust"))
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cn.join(sn, cn.k == sn.k, "full_outer")
        .select(
            F.coalesce(cn.k, sn.k).alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


# ------------------------------------------------------------------- windows

@register(
    "window_topk_per_group",
    """
    SELECT p_brand, p_partkey, p_retailprice, rk FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
      FROM part
    ) WHERE rk <= 3 ORDER BY p_brand, rk
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 priciest parts per brand — the canonical top-k-per-group window.
    (At scale Spark pushes a per-partition WindowGroupLimit before the
    shuffle, so only k rows per group per mapper move.)"""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
        .orderBy("p_brand", "rk")
    )


@register(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spent
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend (frame: unbounded-preceding → current).

    Scale: one exchange on the partition key (customer), then the frame
    is a streaming per-partition scan — running sums never materialize
    the frame; skew = one giant customer, split by AQE."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.withColumn("running_spent", dbl(F.sum(dec("o_totalprice")).over(w)))
        .select("o_custkey", "o_orderkey", "running_spent")
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_lag_gap",
    """
    SELECT o_custkey, o_orderkey,
           datediff('day',
                    lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                    o_orderdate) AS days_since_prev
    FROM orders ORDER BY o_custkey, o_orderkey
    """,
)
def window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): days between consecutive orders per customer (NULL for first).

    Scale: single customer-keyed exchange + per-partition sort; lag(1)
    holds O(1) state per partition during the scan."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn(
            "days_since_prev",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            ),
        )
        .select("o_custkey", "o_orderkey", "days_since_prev")
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "window_rank_dense",
    """
    SELECT p_type, p_partkey,
           rank() OVER (PARTITION BY p_type ORDER BY p_size, p_partkey) AS rnk,
           dense_rank() OVER (PARTITION BY p_type ORDER BY p_size) AS drnk,
           ntile(4) OVER (PARTITION BY p_type ORDER BY p_size, p_partkey) AS quartile
    FROM part ORDER BY p_type, p_partkey
    """,
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile in one window pass.

    Scale: all three functions share ONE window spec, so Catalyst plans
    one exchange + one sort — adding functions to the same spec is free;
    a second spec would double the shuffles."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_type").orderBy("p_size", "p_partkey")
    wd = Window.partitionBy("p_type").orderBy("p_size")
    return (
        part.select(
            "p_type",
            "p_partkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(wd).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("p_type", "p_partkey")
    )


# ---------------------------------------------------------- set ops / limits

@register(
    "set_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations having both customers and suppliers.

    Scale: Catalyst rewrites INTERSECT to aggregate + left-semi join —
    distinct state is O(distinct keys) per side, never a row-level
    cross-match."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).orderBy("nationkey")


@register(
    "set_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): nations with customers but no suppliers.
    ``subtract`` is EXCEPT DISTINCT; ``exceptAll`` would be multiset minus.

    Scale: planned as aggregate + left-anti join on the key — O(distinct
    keys) state per side, one exchange each."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s).orderBy("nationkey")


@register(
    "set_union_distinct",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct).

    Scale: union is free (partition concatenation); the DISTINCT costs
    one hash-aggregate exchange over the combined keys."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct().orderBy("nationkey")


@register(
    "unpivot_balances",
    """
    SELECT c_custkey AS entity, 'customer' AS kind, c_acctbal AS balance
    FROM customer
    UNION ALL
    SELECT s_suppkey, 'supplier', s_acctbal
    FROM supplier
    ORDER BY kind, entity
    """,
)
def unpivot_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via stack-style union of typed columns.

    Scale: map-only row expansion (k output rows per input row) inside
    codegen — no shuffle except the output sort; column pruning still
    reaches the scan because each stacked column is referenced
    explicitly."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity"),
        F.lit("customer").alias("kind"),
        F.col("c_acctbal").alias("balance"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity"),
        F.lit("supplier").alias("kind"),
        F.col("s_acctbal").alias("balance"),
    )
    return c.unionAll(s).orderBy("kind", "entity")


@register(
    "agg_regression",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
           round(corr(l_extendedprice, l_quantity), 6) AS r,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: OLS slope/intercept + correlation per group
    (price ~ quantity). Rounded: covariance sums of doubles carry last-ulp
    partition-order noise."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias(
                "intercept"
            ),
            F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("r"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_histogram",
    """
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 500000 THEN 11
                ELSE CAST(floor(o_totalprice / 50000) AS BIGINT) + 1 END AS bucket,
           count(*) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders GROUP BY bucket ORDER BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket — the profiling primitive
    (one pass, map-side combinable)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(10)).alias(
                "bucket"
            )
        )
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "set_union_all",
    """
    SELECT nationkey, count(*) AS n FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT s_nationkey FROM supplier
    ) GROUP BY nationkey ORDER BY nationkey
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics — no dedup shuffle, just concatenation)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return (
        c.unionAll(s).groupBy("nationkey").agg(F.count("*").alias("n")).orderBy("nationkey")
    )


@register(
    "set_intersect_all",
    """
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    ORDER BY k
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset: min of per-side multiplicities).

    Scale: per-side count aggregation then a key join taking least() of
    the multiplicities — state O(distinct keys), rows never
    multiplied."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    return a.intersectAll(b).orderBy("k")


@register(
    "set_except_all",
    """
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    ORDER BY k
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset minus: multiplicities subtract).

    Scale: same count-aggregate-then-join shape as INTERSECT ALL;
    generate-side re-expansion is bounded by the surviving
    multiplicities."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("k"))
    return a.exceptAll(b).orderBy("k")


@register(
    "scalar_null_funcs",
    """
    WITH j AS (
      SELECT c_custkey, c_acctbal, o_orderkey, o_totalprice
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus = 'P'
    )
    SELECT c_custkey, o_orderkey,
           coalesce(o_orderkey, -1) AS okey_or_default,
           ifnull(o_totalprice, 0.0) AS price_or_zero,
           nullif(c_acctbal, 0.0) IS NULL AS bal_is_zero,
           CASE WHEN o_orderkey IS NULL THEN 'none' ELSE 'some' END AS has_pending
    FROM j ORDER BY c_custkey, o_orderkey
    """,
)
def scalar_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling battery (coalesce/nvl/nullif/IS NULL) over an outer
    join that actually produces NULLs.

    Scale: outer join on the customer key (one exchange per side), then
    a map-only NULL-function projection in codegen."""
    cust = _t(spark, sf_dir, "customer")
    pend = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    j = cust.join(pend, cust.c_custkey == pend.o_custkey, "left")
    return (
        j.select(
            "c_custkey",
            "o_orderkey",
            F.coalesce("o_orderkey", F.lit(-1)).alias("okey_or_default"),
            F.nvl(F.col("o_totalprice"), F.lit(0.0)).alias("price_or_zero"),
            F.nullif(F.col("c_acctbal"), F.lit(0.0)).isNull().alias("bal_is_zero"),
            F.when(F.col("o_orderkey").isNull(), "none").otherwise("some").alias(
                "has_pending"
            ),
        )
        .orderBy("c_custkey", "o_orderkey")
    )


@register(
    "agg_argmax_join",
    """
    WITH mx AS (
      SELECT c_nationkey, max(c_acctbal) AS best_bal
      FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_nationkey, min(c.c_custkey) AS best_cust,
           mx.best_bal AS best_bal
    FROM customer c JOIN mx
      ON c.c_nationkey = mx.c_nationkey AND c.c_acctbal = mx.best_bal
    GROUP BY c.c_nationkey, mx.best_bal
    ORDER BY c.c_nationkey
    """,
)
def agg_argmax_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic arg-max per group (customer with the top balance per
    nation): max + self-join + min-id tiebreak — the formulation that is
    engine-portable (native max_by/arg_max leave ties unspecified).

    Scale: the max table is O(groups) (25 nations) and carries the only
    broadcast; the join-back touches each row once; ties collapse in a
    second O(groups) aggregate."""
    cust = _t(spark, sf_dir, "customer")
    mx = cust.groupBy("c_nationkey").agg(F.max("c_acctbal").alias("best_bal"))
    return (
        cust.join(
            F.broadcast(mx),
            (cust.c_nationkey == mx.c_nationkey) & (cust.c_acctbal == mx.best_bal),
        )
        .drop(mx.c_nationkey)
        .groupBy("c_nationkey", "best_bal")
        .agg(F.min("c_custkey").alias("best_cust"))
        .select("c_nationkey", "best_cust", "best_bal")
        .orderBy("c_nationkey")
    )


@register(
    "order_limit_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def order_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition heaps,
    no global sort (the scale-correct top-k)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------- subqueries

@register(
    "subquery_scalar",
    """
    SELECT o_orderkey, o_totalprice AS price
    FROM orders
    WHERE o_totalprice > (SELECT 2 * avg(o_totalprice) FROM orders)
    ORDER BY o_orderkey
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (broadcast as a literal at runtime)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice AS price
        FROM orders
        WHERE o_totalprice > (SELECT 2 * avg(o_totalprice) FROM orders)
        ORDER BY o_orderkey
        """
    )


@register(
    "subquery_correlated",
    """
    SELECT c_custkey, c_acctbal AS acctbal
    FROM customer c
    WHERE c_acctbal > 1.0001 * (SELECT avg(c_acctbal) FROM customer c2
                                WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_custkey
    """,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subquery — Catalyst decorrelates to an aggregate + join.

    The avg() threshold is scaled by 1.0001 so no row sits exactly ON the
    engine-computed average: avg-of-doubles is summation-order-dependent,
    and a row within an ulp of the cut would flip membership per engine."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal AS acctbal
        FROM customer c
        WHERE c_acctbal > 1.0001 * (SELECT avg(c_acctbal) FROM customer c2
                                    WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey
        """
    )


# ---------------------------------------------------------- scalar functions

@register(
    "scalar_string_funcs",
    """
    SELECT p_partkey,
           upper(p_name) AS uname,
           lower(p_brand) AS lbrand,
           substr(p_type, 1, 5) AS type5,
           length(p_name) AS name_len,
           replace(p_name, ' ', '_') AS snake,
           concat(p_brand, ':', p_type) AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
           reverse(p_brand) AS rbrand,
           CASE WHEN contains(p_name, 'a') THEN 1 ELSE 0 END AS has_a
    FROM part ORDER BY p_partkey
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery (all JVM built-ins, codegen'd)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.upper("p_name").alias("uname"),
            F.lower("p_brand").alias("lbrand"),
            F.substring("p_type", 1, 5).alias("type5"),
            F.length("p_name").alias("name_len"),
            F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
            F.reverse("p_brand").alias("rbrand"),
            F.when(F.contains("p_name", F.lit("a")), 1).otherwise(0).alias("has_a"),
        )
        .orderBy("p_partkey")
    )


@register(
    "scalar_date_funcs",
    """
    SELECT o_orderkey,
           year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           day(o_orderdate) AS dom,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders ORDER BY o_orderkey
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery.

    Scale: map-only projection inside whole-stage codegen; the only
    exchange is the output sort."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("dom"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
                "days_since_epoch"
            ),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "scalar_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           abs(l_discount - 0.05) AS absd,
           CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_h,
           CAST(ceil(l_quantity) AS BIGINT) AS qceil,
           CAST(floor(l_quantity) AS BIGINT) AS qfloor,
           round(sqrt(l_extendedprice), 4) AS sqrtp,
           round(ln(l_extendedprice + 1), 6) AS lnp,
           round(pow(1 + l_tax, 2), 6) AS taxsq,
           l_orderkey % 7 AS mod7
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function battery (rounded: doubles must stringify identically).

    Scale: map-only codegen projection + output sort, like the date
    battery."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_discount") - 0.05).alias("absd"),
            # NOT round(x, 2): Spark rounds the shortest decimal repr of a
            # double (HALF_UP on "x.xx5") while DuckDB rounds the exact
            # binary value — 2-dp money data ties constantly. floor() has no
            # tie surface.
            F.floor(F.col("l_extendedprice") / 100).alias("price_h"),
            F.ceil("l_quantity").alias("qceil"),
            F.floor("l_quantity").alias("qfloor"),
            F.round(F.sqrt("l_extendedprice"), 4).alias("sqrtp"),
            F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("lnp"),
            F.round(F.pow(F.col("l_tax") + 1, 2), 6).alias("taxsq"),
            (F.col("l_orderkey") % 7).alias("mod7"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "scalar_conditional",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (manual pivot — the portable form).

    Scale: the CASE-sums fold into ONE partial/final aggregation (k
    pivot columns = k accumulators, not k passes); one exchange."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_o"),
            F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS F,
           CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS O,
           CAST(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS P
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native .pivot() with explicit value list (no extra distinct pass).

    Scale: the explicit value list is the scale decision — without it
    Spark runs a blocking distinct job over the pivot column first;
    with it, pivot is the same one-exchange conditional aggregation as
    scalar_conditional."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(dbl(F.coalesce(F.sum(dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))))
        .orderBy("o_orderpriority")
    )


@register(
    "json_extract_props",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events ORDER BY event_id
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column.

    Scale: get_json_object is a map-only codegen projection; at 100 TB
    parse each props string ONCE (from_json to a struct column) rather
    than once per extracted field."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .orderBy("event_id")
    )


@register(
    "array_funcs_embeddings",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           embedding[1] AS first_val,
           embedding[64] AS last_val,
           round(list_sum(embedding), 4) AS vec_sum
    FROM embeddings ORDER BY vec_id
    """,
)
def array_funcs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over the vector column (size/element_at/aggregate).

    Scale: per-row array folds run inside codegen over the 64-element
    embeddings — map-only, no Python, no shuffle but the output sort."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.element_at("embedding", 1).alias("first_val"),
            F.element_at("embedding", 64).alias("last_val"),
            F.round(
                F.aggregate(
                    "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
                ),
                4,
            ).alias("vec_sum"),
        )
        .orderBy("vec_id")
    )


@register(
    "scalar_try_funcs",
    """
    SELECT o_orderkey,
           o_totalprice / nullif(CAST(o_custkey % 5 AS DOUBLE), 0.0) AS safe_div,
           TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit
    FROM orders ORDER BY o_orderkey
    """,
)
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fault-tolerant scalar battery: under ANSI SQL mode (Spark 4's
    default) a bad cast or division aborts the whole 1000-executor job —
    try_divide/try_cast return NULL per row instead, which is the only
    sane semantics for dirty data at corpus scale. DuckDB has no
    try_divide, so the oracle expresses it as x / nullif(y, 0)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.col("o_totalprice"), (F.col("o_custkey") % 5).cast("double")
        ).alias("safe_div"),
        F.col("o_orderpriority").try_cast("int").alias("bad_cast"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_digit"),
    ).orderBy("o_orderkey")


@register(
    "set_union_by_name",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority, NULL AS o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority, o_orderstatus
    FROM orders WHERE o_orderkey % 2 = 1
    ORDER BY o_orderkey
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two feeds of the same table with different
    column subsets (an old and a new producer version) merged by NAME with
    missing columns null-filled — ``unionByName(allowMissingColumns=True)``.
    Positional UNION would mis-bind columns or reject outright; at ingest
    scale this is how a pipeline absorbs a producer's rolling upgrade."""
    o = _t(spark, sf_dir, "orders")
    v_old = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v_new = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return v_old.unionByName(v_new, allowMissingColumns=True).orderBy(
        "o_orderkey"
    )


@register(
    "entity_match_blocked",
    """
    SELECT c.c_custkey, s.s_suppkey,
           levenshtein(c.c_name, s.s_name) AS edit_dist
    FROM customer c JOIN supplier s
      ON substr(c.c_name, length(c.c_name) - 1, 2)
         = substr(s.s_name, length(s.s_name) - 1, 2)
    WHERE levenshtein(c.c_name, s.s_name) <= 5
    ORDER BY c_custkey, s_suppkey
    """,
)
def entity_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: fuzzy name matching with edit distance, blocked
    so the n² cross product never materializes — candidates must share a
    blocking key (last two name characters; in production: phonetic key,
    sorted-neighborhood window, or LSH over name shingles). The join
    shuffles on the block key only; levenshtein runs per candidate pair,
    JVM-side. Same skeleton as the dedup LSH: block → score → threshold."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.substring("c_name", -2, 2).alias("blk")
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", F.substring("s_name", -2, 2).alias("blk")
    )
    return (
        c.join(s, "blk")
        .select(
            "c_custkey",
            "s_suppkey",
            F.levenshtein("c_name", "s_name").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 5)
        .orderBy("c_custkey", "s_suppkey")
    )


@register(
    "basket_part_pairs",
    """
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    HAVING count(*) >= 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in ≥ 2
    orders, top 20. The self-join is keyed on l_orderkey, so the pair
    fan-out is bounded by order size squared (≤ 7 lines per TPC-H order —
    never a cross product); at 100 TB the order-key shuffle co-locates
    both sides and skew is impossible by construction (order size is
    bounded). Full tiebreak (n DESC, part_a, part_b) keeps the LIMIT
    engine-stable."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "dq_referential_audit",
    """
    SELECT 'customer_orphan_nation' AS check_name, count(*) AS n_bad FROM customer c
      LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE n.n_nationkey IS NULL
    UNION ALL
    SELECT 'documents_chars_mismatch', count(*) FROM documents WHERE n_chars <> length(text)
    UNION ALL
    SELECT 'lineitem_bad_discount', count(*) FROM lineitem
      WHERE l_discount < 0 OR l_discount > 1
    UNION ALL
    SELECT 'lineitem_nonpositive_price', count(*) FROM lineitem WHERE l_extendedprice <= 0
    UNION ALL
    SELECT 'lineitem_orphan_orders', count(*) FROM lineitem l
      LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'lineitem_orphan_part', count(*) FROM lineitem l
      LEFT JOIN part p ON l.l_partkey = p.p_partkey WHERE p.p_partkey IS NULL
    UNION ALL
    SELECT 'orders_null_custkey', count(*) FROM orders WHERE o_custkey IS NULL
    UNION ALL
    SELECT 'orders_orphan_customer', count(*) FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL
    ORDER BY check_name
    """,
)
def dq_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: referential-integrity orphans (anti-join counts
    against every dimension) + domain constraints (discount ∈ [0,1],
    positive prices, n_chars consistency) as one checks × violation-count
    report — the audit every ingest pipeline runs before publishing a
    snapshot. Orphan checks are LEFT-ANTI joins: dimension sides broadcast,
    so each check costs one scan of its fact table and the whole audit is
    a union of independent map-side jobs (embarrassingly parallel at any
    scale; zero results expected, so output is bytes)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    docs = _t(spark, sf_dir, "documents")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_bad")).select(
            F.lit(name).alias("check_name"), "n_bad"
        )

    checks = [
        check(
            "customer_orphan_nation",
            c.join(
                F.broadcast(n), c.c_nationkey == n.n_nationkey, "left_anti"
            ),
        ),
        check("documents_chars_mismatch", docs.filter(F.col("n_chars") != F.length("text"))),
        check(
            "lineitem_bad_discount",
            li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        ),
        check("lineitem_nonpositive_price", li.filter(F.col("l_extendedprice") <= 0)),
        check(
            "lineitem_orphan_orders",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti"),
        ),
        check(
            "lineitem_orphan_part",
            li.join(p, li.l_partkey == p.p_partkey, "left_anti"),
        ),
        check("orders_null_custkey", o.filter(F.col("o_custkey").isNull())),
        check(
            "orders_orphan_customer",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
        ),
    ]
    out = checks[0]
    for extra in checks[1:]:
        out = out.unionByName(extra)
    return out.orderBy("check_name")


@register(
    "join_shuffle_hash",
    """
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join under an explicit SHUFFLE_HASH hint: when the build
    side fits per-partition memory but exceeds the broadcast threshold,
    a shuffled hash join skips SortMergeJoin's two sorts — the middle
    rung of the broadcast / shuffle-hash / sort-merge ladder (the plan
    assertion lives in tests/test_plans.py). AQE can also pick SHJ from
    runtime sizes; the hint pins the strategy for the demo."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    return (
        li.join(o.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            dbl(F.sum(dec("l_quantity"))).alias("total_qty"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "join_skew_salted",
    """
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join — the manual skew-mitigation pattern for when one key
    holds a disproportionate share of the big side and AQE's skew-join
    split can't help (e.g. a single logical key that exceeds every split
    threshold). The big side (orders) gets a salt in [0, S) derived from a
    NON-join column (o_orderkey % S — deterministic, no rand(), so the
    oracle is exact); the dim side is replicated S times via an exploded
    literal array; the join key becomes (custkey, salt), spreading each
    hot key over S reducers. The oracle is the PLAIN join — salting must
    be a pure physical rewrite with identical semantics.

    Scale: dim replication costs S× the SMALL side only (here 8 × O(customers)
    rows, still broadcast-eligible; at 100 TB the replicated dim shuffles
    like any dim). The aggregate after the join is key-local partial agg,
    so the salt never reaches the output. S trades skew-spread against dim
    blowup; 8 suffices to break a 8×-median hot key."""
    SALT = 8
    o = _t(spark, sf_dir, "orders").withColumn(
        "__salt", (F.col("o_orderkey") % SALT).cast("int")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("__salt", F.explode(F.array(*[F.lit(s) for s in range(SALT)])))
    )
    return (
        o.join(
            c,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (o["__salt"] == c["__salt"]),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dbl(F.sum(dec("o_totalprice"))).alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "dq_k_anonymity",
    """
    WITH q AS (
      SELECT c_nationkey,
             c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
             count(*) AS group_size
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, acctbal_band, group_size
    FROM q WHERE group_size < 5
    ORDER BY c_nationkey, c_mktsegment, acctbal_band
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (nation, market
    segment, coarse account-balance band): every QI combination held by
    fewer than k=5 individuals is a re-identification risk and is
    surfaced for suppression/generalization before the table is released
    as training data. The band uses floor() (repo threshold rule — engine
    half-rounding never enters).

    Scale: one map-side-combinable groupBy on the QI tuple (O(distinct
    QI) partials), then a filter on the counts — the audit never sees row
    payloads and ships only group cardinalities. Widening the QI set only
    grows the group count, not the shuffle width."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
        )
        .agg(F.count("*").alias("group_size"))
        .where(F.col("group_size") < 5)
        .orderBy("c_nationkey", "c_mktsegment", "acctbal_band")
    )


@register(
    "dq_schema_drift_audit",
    """
    WITH tagged AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END AS half,
             user_id, value, props
      FROM events
    ),
    prof AS (
      SELECT event_type, half,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS null_values,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS value_cents
      FROM tagged GROUP BY event_type, half
    )
    SELECT a.event_type,
           a.n AS n_a, b.n AS n_b,
           a.null_values AS nulls_a, b.null_values AS nulls_b,
           a.n_users AS users_a, b.n_users AS users_b,
           a.value_cents AS cents_a, b.value_cents AS cents_b,
           CAST(abs(a.n - b.n) * 100 // greatest(a.n, 1) AS BIGINT)
             AS volume_drift_pct,
           CAST(abs(a.n_users - b.n_users) * 100 // greatest(a.n_users, 1)
                AS BIGINT) AS user_drift_pct
    FROM (SELECT * FROM prof WHERE half = 'a') a
    JOIN (SELECT * FROM prof WHERE half = 'b') b USING (event_type)
    ORDER BY event_type
    """,
)
def dq_schema_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract drift audit: profile each event type in two
    consecutive snapshot windows (the mid-month cutoff the cdc_* queries
    use) and report volume / null-rate / user-cardinality / value-mass
    drift — the monitoring query a pipeline runs before trusting a new
    data drop. Every metric is an exact integer (counts, distinct
    counts, DECIMAL cents); drift percentages are integer floor-division
    so the alert thresholds carry zero float risk.

    Scale: ONE scan builds both profiles (the window tag is a map-side
    CASE, the profile a map-side-combinable aggregate on (type, half));
    the final join touches O(types) rows. At 100 TB this is strictly
    cheaper than two separate profiling passes.
    """
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    tagged = ev.select(
        "event_type",
        F.when(F.col("ts") < cut, "a").otherwise("b").alias("half"),
        "user_id",
        "value",
    )
    prof = tagged.groupBy("event_type", "half").agg(
        F.count("*").cast("long").alias("n"),
        F.count_if(F.col("value").isNull()).cast("long").alias("null_values"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        (F.sum(dec("value")) * 100).cast("long").alias("value_cents"),
    )
    a = prof.filter(F.col("half") == "a").alias("a")
    b = prof.filter(F.col("half") == "b").alias("b")
    return (
        a.join(b, F.col("a.event_type") == F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.col("a.null_values").alias("nulls_a"),
            F.col("b.null_values").alias("nulls_b"),
            F.col("a.n_users").alias("users_a"),
            F.col("b.n_users").alias("users_b"),
            F.col("a.value_cents").alias("cents_a"),
            F.col("b.value_cents").alias("cents_b"),
            # integer `div`, never floor(double division): a quotient one
            # ulp below an integer would floor differently per engine
            F.expr("(abs(a.n - b.n) * 100) div greatest(a.n, 1)")
            .cast("long")
            .alias("volume_drift_pct"),
            F.expr("(abs(a.n_users - b.n_users) * 100) div greatest(a.n_users, 1)")
            .cast("long")
            .alias("user_drift_pct"),
        )
        .orderBy("event_type")
    )


@register(
    "join_theta_blocked",
    """
    SELECT s.s_nationkey,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(max(CAST(c.c_acctbal AS DECIMAL(18,2))
                    - CAST(s.s_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
             AS max_gap_cents
    FROM supplier s JOIN customer c ON c.c_acctbal > s.s_acctbal * 2
    GROUP BY s.s_nationkey ORDER BY s.s_nationkey
    """,
)
def join_theta_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General THETA join (pure inequality, no equi component) via
    1-Bucket-Theta matrix blocking (Okcan & Riedewald, SIGMOD 2011 —
    `operators/relational.theta_join_blocked`): customers whose balance
    more than doubles a supplier's, aggregated per supplier nation. The
    oracle runs the same non-equi join natively, so the blocked rewrite
    must produce every qualifying pair exactly once — the exactly-once
    cell-meeting property under differential test.

    Scale: the ONLY way Spark plans a bare inequality join is
    BroadcastNestedLoopJoin (fine until neither side broadcasts) or a
    CartesianProduct (one task owns everything); the blocked form turns
    it into an EQUI join on hash-assigned cell ids — every one of the
    R*C cells holds |A|/R x |B|/C pairs regardless of value skew, so the
    quadratic work is level across the cluster and per-task memory is
    one block pair. Replication (A x C, B x R copies) is the documented
    shuffle price; banded/as-of predicates should keep using the pruning
    joins instead. DECIMAL-exact gap, doubles only in the predicate
    (exact IEEE compare on both engines).
    """
    from wordcount_spark.operators.relational import theta_join_blocked

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    pairs = theta_join_blocked(
        sup,
        cust,
        F.col("c_acctbal") > F.col("s_acctbal") * 2,
        a_key="s_suppkey",
        b_key="c_custkey",
    )
    return (
        pairs.groupBy("s_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            (F.max(dec("c_acctbal") - dec("s_acctbal")) * 100)
            .cast("long")
            .alias("max_gap_cents"),
        )
        .orderBy("s_nationkey")
    )
