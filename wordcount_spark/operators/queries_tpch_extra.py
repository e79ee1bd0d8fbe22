"""Additional TPC-H query shapes adapted to the driver's TPC-H-lite schema
(no partsupp, no l_shipmode/l_commitdate — see TESTDATA.md).

The reference has no joins at all (SURVEY.md §2.7); these queries widen the
relational surface with the classic shapes Q6/Q7/Q8/Q10/Q14/Q15/Q17/Q18/Q19/Q22
exercise: disjunctive predicate pushdown, role-playing dimension joins,
group-HAVING semi joins, correlated per-group thresholds, scalar-max
selection, and anti-join opportunity analysis.

Oracle-parity: money math in DECIMAL(18,2) before summing (exact, order-
independent); ratio outputs go through exact decimal numerator/denominator
sums, then one deterministic double division + round (IEEE-identical in
Spark and DuckDB).

Scale notes (local[32] today, 1000 executors tomorrow):
- nation/region/supplier/part are broadcast: the lineitem scan never
  shuffles for dimension enrichment.
- lineitem⋈orders is the only fact-fact shuffle; AQE coalesces/splits.
- Q15/Q17 per-group thresholds are computed as *aggregated* (tiny) frames
  joined back — never a global window over the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.operators.relational import dec, sort_small
from wordcount_spark.registry import register
from wordcount_spark.sources.readers import load_table
from wordcount_spark.operators.caching import bounded_cache


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _revenue() -> F.Column:
    return dec("l_extendedprice") * (1 - dec("l_discount"))


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan + conjunctive filter + global agg. Every predicate
    pushes into the parquet scan (row-group skipping on l_shipdate at scale);
    no shuffle at all — partial sums feed one single-row final agg."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(dec("l_extendedprice") * dec("l_discount")).cast("double").alias("revenue"),
        F.count("*").alias("n"),
    )


@register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, CAST(sum(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: role-playing nation dimension joined twice (supplier side
    and customer side) with a disjunctive cross-nation predicate. Both
    nation copies and supplier broadcast; lineitem⋈orders is the only
    shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1997-12-31").cast("timestamp"),
            )
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q8_market_share",
    """
    SELECT l_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'REGION_0' AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    ) all_nations
    GROUP BY l_year
    ORDER BY l_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — conditional-sum ratio per year over
    a 7-way star join. All dimensions broadcast; the exact decimal sums make
    the final double division deterministic across engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    r = _t(spark, sf_dir, "region")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    vol = _revenue().alias("volume")
    base = (
        li.join(p.filter(F.col("p_type") == "PROMO"), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            o.filter(
                F.col("o_orderdate").between(
                    F.lit("1995-01-01").cast("timestamp"),
                    F.lit("1996-12-31").cast("timestamp"),
                )
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "REGION_0")),
            F.col("n1_region") == F.col("r_regionkey"),
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(F.year("o_orderdate").cast("int").alias("l_year"), vol, "nation")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        base.groupBy("l_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(zero)).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("l_year")
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name, c_acctbal AS acctbal,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by lost revenue from returned items.
    The quarter filter prunes orders before the fact-fact shuffle; top-k is
    a TakeOrderedAndProject (no global sort materialization). c_custkey
    tiebreak keeps the LIMIT rowset deterministic."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", F.col("c_acctbal").alias("acctbal"))
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_effect",
    """
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)
           AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share. part broadcasts into the pruned
    lineitem scan; numerator/denominator are exact decimal sums so the
    final double division is engine-stable."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(zero)
                ).cast("double")
                / F.sum(_revenue()).cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) hitting the max quarterly revenue. The revenue
    frame is supplier-cardinality (tiny after agg), so the scalar max is a
    broadcast cross-join back onto it — no single-partition window over the
    fact table."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue()).alias("total_revenue"))
        # cached: referenced by both the scalar max and the final join —
        # Spark does NOT reuse exchanges across those branches (verified:
        # distinct AQE stage ids), so without the cache the lineitem
        # scan+agg runs twice. Session-lifetime pin, accepted: the frame
        # is supplier-cardinality (a few MB even at SF100)
        .transform(bounded_cache)
    )
    peak = revenue.agg(F.max("total_revenue").alias("peak_revenue"))
    return (
        revenue.join(F.broadcast(peak), F.col("total_revenue") == F.col("peak_revenue"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_revenue").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: small-quantity order revenue, correlated per-part average
    threshold. The correlation decorrelates to a per-partkey aggregate
    (part-cardinality, broadcastable) joined back to the brand-filtered
    lineitem — the classic Catalyst rewrite, written explicitly. l_quantity
    values are integral doubles, so avg is exact and the comparison is
    engine-stable."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    per_part_avg = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(
            p.filter(F.col("p_brand") == "Brand#23"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(per_part_avg, F.col("l_partkey") == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(F.sum(dec("l_extendedprice")).cast("double") / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q18_large_volume_customers",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           o_totalprice AS totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders via GROUP BY + HAVING feeding a semi
    join. The qualifying-order set is tiny after the HAVING, so it broadcasts
    as a left-semi onto both orders and lineitem; o_orderkey tiebreak keeps
    the LIMIT deterministic."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("order_qty"))
        .filter(F.col("order_qty") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        li.join(
            big_orders, F.col("l_orderkey") == F.col("big_orderkey"), "left_semi"
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").alias("totalprice"),
        )
        .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"))
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "q19_discounted_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive mixed-table predicates over a broadcast join.
    Catalyst extracts the common l_quantity bounds and per-table IN-brand
    filters below the join (partial pushdown of an OR-of-ANDs)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(cond).agg(
        F.sum(_revenue()).cast("double").alias("revenue"), F.count("*").alias("n")
    )


@register(
    "q22_sales_opportunity",
    """
    SELECT c_nationkey, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers with no orders — scalar-subquery
    threshold + anti join. The average is a 1-row broadcast; the anti join
    streams customers against a broadcast of distinct o_custkey at this
    dim-side cardinality (shuffle anti join at 100 TB fact cardinality).
    c_acctbal is integral-cent doubles, so avg is exact across engines."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "q9_pseudo_profit",
    """
    WITH amounts AS (
      SELECT s_nationkey,
             EXTRACT(year FROM o_orderdate) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS revenue,
             CAST(l_quantity AS DECIMAL(9,2)) * CAST(p_retailprice AS DECIMAL(9,2))
               * CAST(0.5 AS DECIMAL(2,1)) AS cost
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      WHERE p_type IN ('PROMO', 'ECONOMY')
    )
    SELECT s_nationkey AS nationkey, o_year,
           CAST(sum(revenue) AS DOUBLE) - CAST(sum(cost) AS DOUBLE) AS profit
    FROM amounts
    GROUP BY s_nationkey, o_year
    ORDER BY nationkey, o_year
    """,
)
def q9_pseudo_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year) adapted to the
    partsupp-less schema: supply cost is modeled as half the part's retail
    price. Reference has no joins at all (SURVEY.md §2.7).

    Plan shape: part and supplier broadcast into the lineitem scan (the
    p_type filter prunes lineitem rows *before* the only fact-fact shuffle,
    lineitem⋈orders). Revenue and cost are summed as exact decimals
    (order-independent); profit is one deterministic double subtraction at
    the end, so Spark and DuckDB hash-match. The result is O(nations ×
    years) rows at any scale, so its ORDER BY is a one-task sort
    (``sort_small``): no range-sampling job, no range exchange.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_type").isin("PROMO", "ECONOMY")
    ).select("p_partkey", "p_retailprice")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    amounts = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("s_nationkey"),
            F.year("o_orderdate").alias("o_year"),
            _revenue().alias("revenue"),
            (
                F.col("l_quantity").cast("decimal(9,2)")
                * F.col("p_retailprice").cast("decimal(9,2)")
                * F.lit("0.5").cast("decimal(2,1)")
            ).alias("cost"),
        )
    )
    profit = amounts.groupBy(F.col("s_nationkey").alias("nationkey"), "o_year").agg(
        (F.sum("revenue").cast("double") - F.sum("cost").cast("double")).alias("profit")
    )
    return sort_small(profit, "nationkey", "o_year")


@register(
    "q12_ship_lag_priority",
    """
    SELECT CASE WHEN CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) < 0 THEN 'backdated'
                WHEN CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) <= 30 THEN 'fast'
                WHEN CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) <= 365 THEN 'normal'
                ELSE 'slow' END AS ship_lag_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY ship_lag_class
    ORDER BY ship_lag_class
    """,
)
def q12_ship_lag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode service classes) adapted: the schema
    has no l_shipmode/l_commitdate, so lines are classed by order-to-ship
    lag instead, and the Q12 CASE-sum splits priorities per class.

    Plan shape: the shipdate range predicate pushes into the parquet scan
    (row-group skipping at scale); one fact-fact shuffle join on orderkey;
    the CASE buckets collapse to a 4-group hash agg with map-side partials.
    Lag arithmetic is DATE subtraction (integer days) — exact both engines.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.when(lag < 0, "backdated")
            .when(lag <= 30, "fast")
            .when(lag <= 365, "normal")
            .otherwise("slow")
            .alias("ship_lag_class"),
            F.when(high, 1).otherwise(0).alias("is_high"),
        )
        .groupBy("ship_lag_class")
        .agg(
            F.sum("is_high").alias("high_line_count"),
            F.sum(1 - F.col("is_high")).alias("low_line_count"),
        )
        .orderBy("ship_lag_class")
    )


@register(
    "q16_supplier_variety",
    """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_type <> 'STANDARD'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier variety per part attribute) adapted: the
    part-supplier relationships come from lineitem instead of partsupp, and
    the 'complaints' exclusion becomes a negative-balance supplier NOT IN.

    Plan shape: part (filtered, broadcast) prunes the lineitem scan; the
    exclusion is a broadcast anti join (NOT IN on a non-nullable key); the
    count(DISTINCT) shuffles once on the group keys with partial distinct
    (Spark expands to two-level agg). No global sort until the tiny result.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_type") != "STANDARD")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(
            bad,
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


@register(
    "q21_waiting_suppliers",
    """
    WITH late AS (
      SELECT l_orderkey, l_suppkey,
             CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) > 180 AS is_late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT l_suppkey AS suppkey, count(*) AS numwait
    FROM late l1
    WHERE is_late
      AND EXISTS (SELECT 1 FROM late l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.is_late)
    GROUP BY l_suppkey
    ORDER BY numwait DESC, suppkey
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting) adapted: "late"
    is ship-lag > 180 days (no l_receiptdate/commitdate in this schema).
    A supplier is counted when its line was late on a finalized multi-
    supplier order where *no other* supplier was late.

    The textbook form is EXISTS + NOT EXISTS self-joins (the oracle runs
    exactly that); a 100 TB plan replaces both with ONE per-order aggregate
    — count of distinct suppliers and of distinct late suppliers — joined
    back to the late lines. One shuffle on orderkey for the agg, one for
    the join-back, instead of two self-shuffles of the fact table.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            > 180
        ).alias("is_late"),
    )
    # two-level agg instead of count_distinct: a distinct agg would plan an
    # Expand (one input copy per distinct column — 3x the shuffle here);
    # collapsing to (orderkey, suppkey) grain first keeps one copy and both
    # exchanges get map-side partials. The per-order qualifier is a WINDOW
    # over that (orderkey, suppkey) aggregate, not a join-back (r10
    # optimization): the join-back formulation consumed `late` twice — a
    # second fact scan + broadcast join per action — and shuffled the
    # filtered fact side again on orderkey; the window reads the already-
    # aggregated (orders × suppliers)-grain frame. numwait then sums the
    # per-(order, supplier) late-line counts carried through the
    # aggregation (identical to counting the late lines themselves).
    from pyspark.sql import Window

    g = late.groupBy("l_orderkey", "l_suppkey").agg(
        F.count_if("is_late").alias("n_late_lines"),
        F.max("is_late").alias("supp_late"),
    )
    w = Window.partitionBy("l_orderkey")
    return (
        g.select(
            "l_suppkey",
            "n_late_lines",
            "supp_late",
            F.count("*").over(w).alias("n_supp"),
            F.sum(F.col("supp_late").cast("int")).over(w).alias("n_late_supp"),
        )
        .filter(F.col("supp_late") & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum("n_late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "suppkey")
    )


@register(
    "q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY l_partkey, l_suppkey)
    SELECT p_partkey, p_name, s_name, n_name, unit_cost
    FROM costs JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_type = 'SMALL' AND p_size < 15
      AND unit_cost = (SELECT min(c2.unit_cost) FROM costs c2
                       WHERE c2.l_partkey = costs.l_partkey)
    ORDER BY p_partkey, s_name
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp in this schema, so observed min unit
    price from lineitem stands in for ps_supplycost): for each small part,
    the EUROPE supplier(s) selling it cheapest. The correlated min
    decorrelates to an aggregate-of-an-aggregate joined back — both the
    (part, supplier) cost frame and its per-part min are part-cardinality
    (they GROW with SF, so they carry NO broadcast hint: the static plan
    shows sort-merge joins that AQE converts back to broadcasts at bench
    SF, and at 100x they stay shuffles — the deliberate trade of r3's
    hint policy, two static exchanges for a plan that cannot melt). The
    unit-cost double division is computed once and reused on both compare
    sides; identical operands give identical IEEE results in Spark and
    DuckDB."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    euro_supp = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "n_name")
    )
    costs = (
        li.join(euro_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "s_name", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    min_per_part = costs.groupBy(F.col("l_partkey").alias("min_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        costs.join(
            min_per_part,
            (F.col("l_partkey") == F.col("min_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(
            p.filter((F.col("p_type") == "SMALL") & (F.col("p_size") < 15)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select("p_partkey", "p_name", "s_name", "n_name", "unit_cost")
        .orderBy("p_partkey", "s_name")
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (no l_commitdate/l_receiptdate; "late" = shipped more
    than 60 days after the order date): priority histogram of one quarter's
    orders having at least one late line. EXISTS plans as a left-semi hash
    join on l_orderkey with the date comparison as the residual condition —
    the quarter filter pushes into the orders scan first, so the semi join
    probes with ~1/24th of orders.

    Scale: EXISTS plans as a left-semi hash join on l_orderkey (key-only
    build side), then one priority-keyed aggregation exchange.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    quarter = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    return (
        quarter.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q11_important_stock",
    """
    SELECT l_partkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS val
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7')
    GROUP BY l_partkey
    HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) >
      (SELECT 0.001 * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       WHERE n_name IN ('NATION_3', 'NATION_7'))
    ORDER BY l_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (lineitem revenue stands in for partsupp stock
    value): parts whose two-nation revenue exceeds a fraction of the total.
    The global threshold is a one-row aggregate of the SAME per-part frame
    (computed once, reused for both sides), cross-joined as a broadcast —
    no second scan of lineitem, unlike the literal SQL. Exact decimal sums;
    the threshold comparison happens in double on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    two_nation_supp = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_3", "NATION_7"))
        .select("s_suppkey")
    )
    per_part = (
        li.join(two_nation_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_revenue()).alias("val"))
        # cached so the threshold agg and the filter branch share ONE
        # lineitem scan (no cross-branch exchange reuse otherwise);
        # part-cardinality pin for the session, accepted
        .transform(bounded_cache)
    )
    total = per_part.agg((F.lit(0.001) * F.sum("val").cast("double")).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.col("threshold"))
        .select("l_partkey", F.col("val").cast("double").alias("val"))
        .orderBy("l_partkey")
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (o_orderpriority filter stands in for the o_comment NOT
    LIKE): distribution of per-customer order counts including zero-order
    customers — the LEFT OUTER with the predicate in the JOIN condition (not
    WHERE) is the point of the query. First agg is customer-grain (shuffle
    on c_custkey); second agg input is one row per customer and collapses
    to ~tens of distinct counts via map-side partials."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "q20_potential_promotion",
    """
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3' AND s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey HAVING sum(l_quantity) > 300)
    ORDER BY s_name
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (shipped quantity stands in for ps_availqty): one
    nation's suppliers who moved > 300 units of PROMO parts in 1997. The
    inner GROUP BY + HAVING produces a qualifying-supplier set applied
    as a left-semi onto the (broadcast nation-joined) supplier frame; the
    set is O(suppliers), so it carries NO broadcast hint — AQE broadcasts
    it at bench SF, shuffle-semi at scale (one extra static exchange, the
    r3 hint-policy trade). The date + p_type filters push into the
    lineitem/part scans."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    promo_supp = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(
            p.filter(F.col("p_type") == "PROMO").select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("promo_qty"))
        .filter(F.col("promo_qty") > 300)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name") == "NATION_3")
        .join(promo_supp, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
