"""TPC-H-style relational queries over the driver's star schema.

The reference engine exposes none of these (SURVEY.md §2.G: joins, group-by,
filters, set ops are all ∅ — only inherited raw DataFrame methods exist).
These implementations are the Catalyst-first shapes the rebuild commits to:

- Filters are applied straight on the scan so they push into parquet
  (``PushedFilters`` in ``.explain``), and only referenced columns are read.
- Fixed-size dims (region: 5 rows, nation: 25 rows at every SF) are
  explicitly ``broadcast()``; growing dims (part/customer/supplier) are left
  to AQE, which switches to broadcast at runtime when the built side is small.
- Aggregations are expressed as single ``groupBy().agg()`` passes → Catalyst
  plans partial (map-side) + final hash aggregation automatically.
- Top-k = ``orderBy().limit(k)`` → Spark's TakeOrderedAndProject: each
  partition keeps k rows, only k*partitions rows move — no global sort.
- All float aggregates are rounded identically in Spark and the DuckDB
  oracle so summation order can't flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.functions.compat import rnd
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# Q1: pricing summary (full-table agg, the canonical map-side-combine shape)
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "tpch"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1. One shuffle (on the 6-value group key); everything else is
    map-side. The shipdate predicate pushes into the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
            rnd(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            rnd(F.sum(disc_price), 2).alias("sum_disc_price"),
            rnd(F.sum(charge), 2).alias("sum_charge"),
            rnd(F.avg("l_quantity"), 4).alias("avg_qty"),
            rnd(F.avg("l_extendedprice"), 4).alias("avg_price"),
            rnd(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Q3: shipping priority (3-way join + agg + top-k)
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. customer is filtered before the join (segment predicate
    pushed to its scan); orders⋈lineitem is the only big shuffle. Top-k runs
    as TakeOrderedAndProject, tie-broken by key for determinism."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q5: local supplier volume (6-way join incl. broadcast dims)
# --------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    tags=("join", "agg", "broadcast", "tpch"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5. nation/region are fixed-size at every SF → explicit
    broadcast; supplier/customer joins go through AQE (broadcast at low SF,
    shuffle-hash at high SF). The region filter prunes nation rows BEFORE the
    fact-table joins, shrinking the build sides."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))

    # prune nations to the region first — tiny build side for all later joins
    local_nations = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    supp_local = supp.join(F.broadcast(local_nations), supp.s_nationkey == F.col("n_nationkey"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp_local, li.l_suppkey == supp_local.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp_local.s_nationkey))
        .groupBy("n_name")
        .agg(rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q6: forecasting revenue (pure filter+agg — pushdown showcase)
# --------------------------------------------------------------------------
@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("filter", "agg", "pushdown", "tpch"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6. All four predicates push into the parquet scan; the agg is a
    single partial+final reduction with no grouping shuffle at all."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Q10-style: returned-items revenue by customer (join + agg + top-k)
# --------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape. The returnflag filter lands on the lineitem scan;
    nation is broadcast; top-20 is TakeOrderedAndProject."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Broadcast-join aggregate: quantity share by part brand
# --------------------------------------------------------------------------
@register(
    "q_brand_volume",
    oracle="""
    SELECT p_brand,
           ROUND(SUM(l_quantity), 2) AS total_qty,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    tags=("join", "agg", "broadcast"),
)
def q_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim + agg. part grows with SF so we do NOT hard-broadcast it —
    AQE picks broadcast when the built side is actually small. Only p_brand
    is read from part (column pruning keeps the build side narrow)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            rnd(F.sum("l_quantity"), 2).alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Semi / anti joins
# --------------------------------------------------------------------------
_BIG_ORDER = 400000.0


@register(
    "q_semi_join_big_spenders",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > {_BIG_ORDER})
    """,
    tags=("join", "semi"),
)
def q_semi_join_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers holding at least one big-ticket order.
    Semi joins never duplicate or widen rows — the probe side streams."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > _BIG_ORDER)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q_anti_join_quiet_customers",
    oracle=f"""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > {_BIG_ORDER})
    """,
    tags=("join", "anti"),
)
def q_anti_join_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with NO big-ticket order."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > _BIG_ORDER)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Distinct / set operations
# --------------------------------------------------------------------------
@register(
    "q_distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
    tags=("distinct",),
)
def q_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct == groupBy(all cols): partial dedup map-side, tiny shuffle."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "q_set_union_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop",),
)
def q_set_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two key sets."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "q_set_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop",),
)
def q_set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations present on both sides."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "q_set_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop",),
)
def q_set_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customer nations with no supplier."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


# --------------------------------------------------------------------------
# Rollup / cube (grouping sets)
# --------------------------------------------------------------------------
@register(
    "q_rollup_flag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("rollup", "agg"),
)
def q_rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — subtotals + grand total in one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        rnd(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "q_cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("cube", "agg"),
)
def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions — all 4 grouping sets in one pass."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        rnd(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Aggregate over join with HAVING-style post-filter
# --------------------------------------------------------------------------
@register(
    "q_segment_order_stats",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_spend,
           ROUND(AVG(o_totalprice), 4) AS avg_spend,
           ROUND(MIN(o_totalprice), 2) AS min_spend,
           ROUND(MAX(o_totalprice), 2) AS max_spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    HAVING COUNT(*) > 5
    """,
    tags=("join", "agg", "having"),
)
def q_segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + multi-stat agg + HAVING. min/max/avg/sum/count batched into ONE
    aggregation pass (the reference ran a separate job per statistic —
    SURVEY.md §2.D)."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("total_spend"),
            rnd(F.avg("o_totalprice"), 4).alias("avg_spend"),
            rnd(F.min("o_totalprice"), 2).alias("min_spend"),
            rnd(F.max("o_totalprice"), 2).alias("max_spend"),
        )
        .filter(F.col("n_orders") > 5)
    )


@register(
    "q_salted_skew_join",
    oracle="""
    SELECT s_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    """,
    tags=("join", "skew", "salted"),
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join: lineitem's supplier key is heavily skewed (few suppliers,
    thousands of rows each). Salting spreads each hot key over 8 shuffle
    partitions; the oracle is the PLAIN join — salting must never change
    results, which is exactly what the check proves."""
    from pontem_spark.functions.compat import rnd as _rnd
    from pontem_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    joined = salted_join(li, supp, key="l_suppkey", salt=8)
    return joined.groupBy("s_name").agg(
        _rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q_two_phase_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_quantity), 2) AS l_quantity_sum,
           COUNT(*) AS l_quantity_count,
           ROUND(MAX(l_extendedprice), 2) AS l_extendedprice_max
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "skew", "salted"),
)
def q_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted) aggregation under a 3-value hot group key: the
    partial phase spreads each hot reducer over 16 salt slots. Oracle is the
    plain aggregate — decomposition must be lossless."""
    from pontem_spark.functions.compat import rnd as _rnd
    from pontem_spark.operators.skew import two_phase_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = two_phase_agg(
        li,
        "l_returnflag",
        [("l_quantity", "sum"), ("l_quantity", "count"), ("l_extendedprice", "max")],
        salt=16,
    )
    return out.select(
        "l_returnflag",
        _rnd(F.col("l_quantity_sum"), 2).alias("l_quantity_sum"),
        F.col("l_quantity_count"),
        _rnd(F.col("l_extendedprice_max"), 2).alias("l_extendedprice_max"),
    )


@register(
    "q_set_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("setop", "multiset"),
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset semantics: each row's multiplicity subtracts) —
    distinct from EXCEPT; Spark's exceptAll maps 1:1."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return o.exceptAll(f)


@register(
    "q_set_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("setop", "multiset"),
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — min-of-multiplicities multiset intersection."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return o.intersectAll(f)


@register(
    "q_join_full_outer",
    oracle="""
    WITH c AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000
    ), o AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders WHERE o_totalprice > 300000 GROUP BY 1
    )
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           ROUND(c.c_acctbal, 2) AS acctbal,
           o.n_orders
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    """,
    tags=("join", "full-outer"),
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two filtered, non-overlapping-key frames — rich
    customers vs big-spender order counts — so all three row classes
    (left-only, right-only, matched) are present in the result. A plain
    shuffle join both engines execute identically; null sides survive into
    the output and the hash check covers them."""
    from pontem_spark.functions.compat import rnd

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_acctbal")
    )
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    joined = cust.join(big, cust["c_custkey"] == big["o_custkey"], "full_outer")
    return joined.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        rnd(F.col("c_acctbal"), 2).alias("acctbal"),
        "n_orders",
    )


@register(
    "q_join_bloom_prefilter",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join: build a 2^17-bit filter from the BUILDING
    customers (explode + bit_or aggregation, bounded broadcast literal),
    drop non-matching orders MAP-SIDE before any exchange, then an exact
    semi-join removes the false positives — so the oracle is the plain
    semi-join itself: the pre-filter is proven lossless
    (operators/bloom.py::bloom_semi_join)."""
    from pontem_spark.operators.bloom import bloom_semi_join

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    return bloom_semi_join(orders, cust, "o_custkey", "c_custkey").select(
        "o_orderkey", "o_custkey"
    )
