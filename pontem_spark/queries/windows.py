"""Window-function queries (rank / running totals / lag-lead / top-n-per-group).

Absent in the reference (SURVEY.md §2.G "window functions: ∅"). Window specs
shuffle once on ``partitionBy`` and sort within partitions; at 100 TB the
partition key's cardinality must be high enough that no single partition
(user, customer) exceeds executor memory — true for customer/user keys here.
A window WITHOUT partitionBy collapses to a single partition and is forbidden
in this codebase (use aggregations or monotonic ids instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pontem_spark.functions.compat import rnd
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


@register(
    "q_window_order_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    """,
    tags=("window", "rank"),
)
def q_window_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price. One shuffle on o_custkey; the
    rank<=3 filter is applied immediately so only 3 rows per key survive
    the window stage."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.select("o_custkey", "o_orderkey", "o_totalprice", F.rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "q_window_running_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
    FROM orders
    """,
    tags=("window", "cumsum"),
)
def q_window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer ordered by order date (ties broken by
    orderkey so the frame is deterministic)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        rnd(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "q_window_order_gap_days",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders
    """,
    tags=("window", "lag"),
)
def q_window_order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG: days between a customer's consecutive orders (NULL for the first)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).cast("bigint").alias("days_since_prev"),
    )


@register(
    "q_window_ntile_price_band",
    oracle="""
    SELECT band, COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS band_min,
           ROUND(MAX(o_totalprice), 2) AS band_max
    FROM (
        SELECT o_totalprice,
               NTILE(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) AS band
        FROM orders
    )
    GROUP BY band
    """,
    tags=("window", "ntile"),
)
def q_window_ntile_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles within each order status, then a stats rollup per band.
    Partitioned by status so no single-partition global sort happens."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select("o_totalprice", F.ntile(4).over(w).alias("band"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.min("o_totalprice"), 2).alias("band_min"),
            rnd(F.max("o_totalprice"), 2).alias("band_max"),
        )
    )


@register(
    "q_window_share_of_customer",
    oracle="""
    SELECT o_orderkey,
           ROUND(o_totalprice / SUM(o_totalprice) OVER (PARTITION BY o_custkey), 6) AS spend_share
    FROM orders
    """,
    tags=("window", "ratio"),
)
def q_window_share_of_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order's share of its customer's total spend (unordered window —
    a per-key aggregate broadcast back to the rows, no sort needed)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return orders.select(
        "o_orderkey",
        rnd(F.col("o_totalprice") / F.sum("o_totalprice").over(w), 6).alias("spend_share"),
    )


@register(
    "q_window_percent_rank",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           ROUND(PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice), 6) AS pct_rank,
           ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice), 6) AS cume
    FROM orders
    """,
    tags=("window", "percent_rank", "cume_dist"),
)
def q_window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist per priority partition — the two remaining
    analytic window functions; both share ONE partitioned sort (no second
    Exchange). Relative ranks are what feature pipelines feed models
    instead of raw amounts."""
    from pyspark.sql import Window

    from pontem_spark.functions.compat import rnd

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        rnd(F.percent_rank().over(w), 6).alias("pct_rank"),
        rnd(F.cume_dist().over(w), 6).alias("cume"),
    )
