"""Queries exercised THROUGH the pandas-like layer (pontem_spark.core) —
proving the compatibility wrapper emits the same clean Catalyst plans as
hand-written DataFrame code. Each is oracle-checked like every other query."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.functions.compat import rnd
from pontem_spark.queries.oracle_fragments import minhash_oracle
from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


@register(
    "q_api_column_expression",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charge
    FROM lineitem
    WHERE l_quantity > 45
    """,
    tags=("api", "projection"),
)
def q_api_column_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README-pitch shape: df['charge'] = price*(1-disc)*(1+tax), then a
    boolean-mask filter — all through the pandas-like API. The emitted plan
    is a single Filter+Project over the scan (no joins, no UDFs)."""
    from pontem_spark.core import from_spark

    df = from_spark(load_table(spark, sf_dir, "lineitem"))
    df["charge"] = df["l_extendedprice"] * (1 - df["l_discount"]) * (1 + df["l_tax"])
    out = df[df["l_quantity"] > 45]
    sdf = out.to_spark().select(
        "l_orderkey", "l_linenumber", rnd(F.col("charge"), 2).alias("charge")
    )
    return sdf


@register(
    "q_api_groupby_agg",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS o_totalprice,
           COUNT(o_orderkey) AS o_orderkey
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("api", "groupby"),
)
def q_api_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby().agg() through the wrapper → one hash-aggregate pass."""
    from pontem_spark.core import from_spark

    df = from_spark(load_table(spark, sf_dir, "orders"))
    out = df.groupby("o_orderpriority", as_index=False).agg(
        {"o_totalprice": "sum", "o_orderkey": "count"}
    )
    sdf = out.to_spark().select(
        F.col("o_orderpriority"),
        rnd(F.col("o_totalprice"), 2).alias("o_totalprice"),
        F.col("o_orderkey"),
    )
    return sdf


@register(
    "q_api_merge_filter",
    oracle="""
    SELECT o_orderkey, c_mktsegment, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'MACHINERY' AND o_totalprice > 300000
    """,
    tags=("api", "merge"),
)
def q_api_merge_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge() through the wrapper == a Catalyst equi-join; the segment and
    price predicates still push below the join."""
    from pontem_spark.core import from_spark

    orders = from_spark(load_table(spark, sf_dir, "orders"))[
        ["o_orderkey", "o_custkey", "o_totalprice"]
    ]
    cust = from_spark(load_table(spark, sf_dir, "customer"))[["c_custkey", "c_mktsegment"]]
    cust = cust.rename({"c_custkey": "o_custkey"})
    merged = orders.merge(cust, on="o_custkey")
    out = merged[(merged["c_mktsegment"] == "MACHINERY") & (merged["o_totalprice"] > 300000)]
    return out.to_spark().select(
        "o_orderkey", "c_mktsegment", rnd(F.col("o_totalprice"), 2).alias("o_totalprice")
    )


@register(
    "q_api_str_accessor",
    oracle="""
    SELECT c_custkey, upper(c_name) AS name_upper, length(c_name) AS name_len
    FROM customer
    WHERE c_name LIKE '%1%'
    """,
    tags=("api", "str"),
)
def q_api_str_accessor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.str accessor → built-in string functions, zero UDFs."""
    from pontem_spark.core import from_spark

    df = from_spark(load_table(spark, sf_dir, "customer"))
    df["name_upper"] = df["c_name"].str.upper()
    df["name_len"] = df["c_name"].str.len()
    out = df[df["c_name"].str.contains("1", regex=False)]
    return out.to_spark().select("c_custkey", "name_upper", "name_len")


@register(
    "q_api_dedup_minhash",
    oracle=minhash_oracle(8, 4),
    tags=("api", "dedup", "minhash", "lsh"),
)
def q_api_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH dedup pipeline driven ENTIRELY through the public
    pandas-like API: read_parquet → df.dedup.minhash_candidates(...) —
    proving the north-star surface runs the same scale-shaped plan as the
    operator layer (same oracle as q_dedup_minhash_candidates)."""
    from pontem_spark.core.io import read_parquet

    pdf = read_parquet(f"{sf_dir}/documents.parquet", spark=spark)
    cands = pdf.dedup.minhash_candidates("doc_id", "text", num_hashes=8, rows_per_band=4, ngram=3)
    return cands.to_spark().select("id_a", "id_b")


@register(
    "q_api_melt_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable,
           ROUND(CAST(l_quantity AS DOUBLE), 2) AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice',
           ROUND(CAST(l_extendedprice AS DOUBLE), 2) FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount',
           ROUND(CAST(l_discount AS DOUBLE), 2) FROM lineitem
    """,
    tags=("api", "reshape", "melt"),
)
def q_api_melt_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """melt (wide → long) through the wrapper == one stack() Generate —
    each row fans out to one row per value column entirely map-side, no
    shuffle, no UDF (promoted to a driver query per VERDICT r04 #8)."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    li = from_spark(load_table(spark, sf_dir, "lineitem"))[
        ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"]
    ]
    out = li.melt(id_vars=["l_orderkey", "l_linenumber"])
    return out.to_spark().select(
        "l_orderkey", "l_linenumber", "variable",
        rnd(F.col("value"), 2).alias("value"),
    )


@register(
    "q_api_explode_tokens",
    oracle="""
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')[1:5]) AS tok
    FROM documents
    """,
    tags=("api", "reshape", "explode"),
)
def q_api_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode through the wrapper == explode_outer Generate (one row per
    array element, map-side). First five whitespace tokens per document."""
    from pontem_spark.core import from_spark

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 5).alias("tok")
    )
    out = from_spark(docs).explode("tok")
    return out.to_spark().select("doc_id", "tok").filter(F.col("tok").isNotNull())


@register(
    "q_api_grouped_transform",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(o_totalprice / AVG(o_totalprice) OVER (PARTITION BY o_orderpriority), 6)
               AS price_ratio
    FROM orders
    """,
    tags=("api", "groupby", "transform"),
)
def q_api_grouped_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby().transform through the wrapper: the per-group mean is a
    window aggregate broadcast back to every row (single shuffle on the
    group key, no join-back), and the ratio assignment stays one growing
    Catalyst plan on the shared anchor."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    df = from_spark(load_table(spark, sf_dir, "orders"))[
        ["o_orderkey", "o_orderpriority", "o_totalprice"]
    ]
    mean = df.groupby("o_orderpriority")["o_totalprice"].transform("mean")
    ratio = df["o_totalprice"] / mean
    out = df.assign(price_ratio=ratio)
    return out.to_spark().select(
        "o_orderkey", "o_orderpriority",
        rnd(F.col("price_ratio"), 6).alias("price_ratio"),
    )


@register(
    "q_api_reset_index_enumerate",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS idx,
           o_orderkey, o_orderpriority
    FROM orders
    """,
    tags=("api", "reset_index"),
)
def q_api_reset_index_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reset_index through the wrapper — driver evidence for the
    DISTRIBUTED renumbering (range-partition + per-partition counts +
    cumulative offsets; no single-partition Exchange, plan-asserted in
    tests/test_frame_pandas.py). The oracle's global ROW_NUMBER proves the
    offset arithmetic reproduces the exact total order 0..n-1."""
    from pontem_spark.core import from_spark

    df = from_spark(load_table(spark, sf_dir, "orders"))[
        ["o_orderkey", "o_orderpriority"]
    ]
    out = df.set_index("o_orderkey").reset_index()
    sdf = out.to_spark()
    return sdf.select(
        F.col("__index__").alias("idx"), "o_orderkey", "o_orderpriority"
    )


_SOURCES = [f"src{i}" for i in range(20)]


@register(
    "q_api_crosstab",
    oracle="""
    SELECT lang, """
    + ", ".join(
        f"CAST(SUM(CASE WHEN source = '{s}' THEN 1 ELSE 0 END) AS BIGINT) AS {s}"
        for s in _SOURCES
    )
    + """
    FROM documents GROUP BY lang
    """,
    tags=("api", "reshape", "crosstab"),
)
def q_api_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas crosstab through the wrapper: lang × source co-occurrence
    counts as one pivot aggregate (explicit column_values, so no hidden
    distinct-scan job), absent cells filled with 0."""
    from pontem_spark.core import from_spark

    docs = from_spark(load_table(spark, sf_dir, "documents"))
    out = docs.crosstab("lang", "source", column_values=_SOURCES)
    return out.to_spark(index_col="lang").select("lang", *_SOURCES)


def _qcut_oracle() -> str:
    from pontem_spark.operators.binning import quantile_bins_oracle_sql

    cte, bucket = quantile_bins_oracle_sql("orders", "o_totalprice", q=4)
    return f"""
    WITH {cte}
    SELECT o_orderkey, {bucket} AS price_bucket
    FROM orders, bnds
    """


@register(
    "q_api_qcut",
    oracle=_qcut_oracle(),
    tags=("api", "binning", "quantile"),
)
def q_api_qcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency quantile binning (pandas qcut, q=4) the scale-safe
    way: one percentile aggregate for the boundaries, broadcast to a
    map-side array fold per row — no NTILE global sort anywhere
    (operators/binning.py). The per-row hash check proves both engines
    bucket every order identically from the same rounded boundaries."""
    from pontem_spark.operators.binning import quantile_bins

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return quantile_bins(orders, "o_totalprice", q=4, bucket_name="price_bucket").select(
        "o_orderkey", "price_bucket"
    )


@register(
    "q_api_groupby_rolling",
    oracle="""
    SELECT event_id,
           CASE WHEN COUNT(value) OVER w >= 3
                THEN ROUND(AVG(value) OVER w, 2) END AS rolling_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("api", "window", "rolling"),
)
def q_api_groupby_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby(user)[value].rolling(3).mean() through the wrapper == one
    hash-partitioned window pass (core/window.py::GroupedRolling — no
    global sort, no join-back), NaN until the window holds 3 observations,
    exactly as pandas gates it."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    df = from_spark(ev, index_col="event_id")
    roll = df.groupby("user_id")["value"].rolling(3).mean()
    return roll.to_frame().to_spark(index_col="event_id").select(
        "event_id", rnd(F.col("value"), 2).alias("rolling_avg")
    )


@register(
    "q_api_rank",
    oracle="""
    WITH c AS (
      SELECT c_acctbal AS v, COUNT(*) AS n, min(c_custkey) AS dummy
      FROM customer GROUP BY 1
    ),
    r AS (
      SELECT v,
             CAST(SUM(n) OVER (ORDER BY v) - n + (n + 1) / 2.0 AS DOUBLE) AS rnk
      FROM c
    )
    SELECT cu.c_custkey, r.rnk
    FROM customer cu JOIN r ON cu.c_acctbal = r.v
    """,
    tags=("api", "rank", "window"),
)
def q_api_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas Series.rank (method='average') over customer balances,
    per-customer — computed on the distinct-value frame (groupBy shuffle at
    value_counts cardinality + one window over the K distinct balances +
    join back), never a global sort of the raw rows (core/series.py::rank).
    The oracle derives the same average rank relationally."""
    from pontem_spark.core import from_spark

    df = from_spark(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ).set_index("c_custkey")
    r = df["c_acctbal"].rank()
    out = r.to_spark(value_name="rnk")
    return out.select(F.col("c_custkey").cast("long").alias("c_custkey"), "rnk")


def _grouped_qcut_oracle() -> str:
    from pontem_spark.operators.binning import grouped_quantile_bins_oracle_sql

    cte, bucket = grouped_quantile_bins_oracle_sql("orders", "o_orderpriority", "o_totalprice", q=4)
    return f"""
    WITH {cte}
    SELECT o_orderkey, o_orderpriority, {bucket} AS price_bucket
    FROM orders JOIN bnds USING (o_orderpriority)
    """


@register(
    "q_api_grouped_qcut",
    oracle=_grouped_qcut_oracle(),
    tags=("api", "binning", "quantile", "grouped"),
)
def q_api_grouped_qcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group equal-frequency binning (qcut within each order priority):
    one grouped percentile aggregate, broadcast boundary join on the group
    key, map-side bucket fold — no window, no sort, no per-group job
    (operators/binning.py::grouped_quantile_bins)."""
    from pontem_spark.operators.binning import grouped_quantile_bins

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return grouped_quantile_bins(
        orders, "o_orderpriority", "o_totalprice", q=4, bucket_name="price_bucket"
    ).select("o_orderkey", "o_orderpriority", "price_bucket")


@register(
    "q_api_topk_per_group_agg",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rn <= 3
    """,
    tags=("api", "topk", "agg", "no-window"),
)
def q_api_topk_per_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group WITHOUT a window, as a SALTED two-phase aggregate:
    phase 1 takes top-3 within (group, salt) — the collect_list buffer is
    bounded by group_size/n_salt, the knob that keeps the worst key's
    buffer small at any scale — and phase 2 re-ranks the ≤ 3·n_salt
    survivors per group (top-3 of per-salt top-3s is exactly the global
    top-3). Replaces the window's partition-wide SORT with two hash
    aggregates whose second input is provably tiny. The oracle is the
    window formulation — value equality proves the two plans are
    semantically interchangeable."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)

    def top3(df, keys):
        # ascending (-price, key): the slice head IS the top by price with
        # the deterministic key tie-break
        return df.groupBy(*keys).agg(
            F.slice(F.array_sort(F.collect_list("__t")), 1, 3).alias("top")
        )

    packed = j.select(
        "c_mktsegment",
        F.pmod(F.col("o_orderkey"), F.lit(8)).alias("__salt"),
        F.struct(
            (-F.col("o_totalprice")).alias("np"), F.col("o_orderkey").alias("k")
        ).alias("__t"),
    )
    local = top3(packed, ["c_mktsegment", "__salt"]).select(
        "c_mktsegment", F.explode("top").alias("__t")
    )
    final = top3(local, ["c_mktsegment"])
    return final.select("c_mktsegment", F.explode("top").alias("t")).select(
        "c_mktsegment",
        F.col("t.k").alias("o_orderkey"),
        (-F.col("t.np")).alias("o_totalprice"),
    )


@register(
    "q_api_interpolate_ffill",
    oracle="""
    WITH seq AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE CAST(o_totalprice AS DOUBLE) END AS v,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) AS pos
        FROM orders WHERE o_orderkey <= 2000
    ), scan AS (
        SELECT o_orderkey, v, pos,
               last_value(v IGNORE NULLS) OVER (ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
                   OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
               first_value(v IGNORE NULLS) OVER (ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
                   OVER (ORDER BY pos ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
        FROM seq
    )
    SELECT o_orderkey,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL
               THEN pv + (nv - pv) * (pos - pp) / CAST(np - pp AS DOUBLE)
             WHEN pv IS NOT NULL THEN pv
           END, 4) AS interpolated,
           ROUND(pv, 4) AS ffilled
    FROM scan
    """,
)
def q_api_interpolate_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series.interpolate (positional linear, trailing ffill per pandas'
    limit_direction='forward') and Series.ffill over a deterministic
    missing pattern (every 7th orderkey nulled) — the oracle replays the
    identical two ignore-nulls window scans in SQL."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
            .otherwise(F.col("o_totalprice").cast("double"))
            .alias("v"),
        )
    )
    s = from_spark(base, index_col="o_orderkey")["v"]  # no driver collect
    interp = s.interpolate().to_spark(value_name="interpolated")
    ff = s.ffill().to_spark(value_name="ffilled")
    iname = interp.columns[0]
    return (
        interp.join(ff.withColumnRenamed(ff.columns[0], iname), iname)
        .select(
            F.col(iname).alias("o_orderkey"),
            rnd(F.col("interpolated"), 4).alias("interpolated"),
            rnd(F.col("ffilled"), 4).alias("ffilled"),
        )
    )


@register(
    "q_api_ewm_mean",
    oracle="""
    WITH seq AS (
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS v,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS i
        FROM orders WHERE o_orderkey <= 800
    )
    SELECT o_orderkey,
           ROUND(
             SUM(v * pow(0.9, -i)) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / SUM(pow(0.9, -i)) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           , 4) AS ewm_mean
    FROM seq
    """,
)
def q_api_ewm_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series.ewm(alpha=0.1, adjust=True).mean() vs the closed-form SQL
    twin: with adjust, y_t = Σ w^(t-i)·x_i / Σ w^(t-i) = (Σ x_i·w^-i) /
    (Σ w^-i) — two prefix sums. The SQL form overflows for long series
    (w^-i explodes), which is exactly why the engine implementation is an
    Arrow group instead; the bounded 800-row window keeps the oracle in
    double range (0.9^-800 ≈ 3e36) while proving the recurrence."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 800)
        .select("o_orderkey", F.col("o_totalprice").cast("double").alias("v"))
    )
    s = from_spark(base, index_col="o_orderkey")["v"]  # no driver collect
    out = s.ewm(alpha=0.1).mean().to_spark(value_name="ewm_mean")
    iname = out.columns[0]
    return out.select(
        F.col(iname).alias("o_orderkey"), rnd(F.col("ewm_mean"), 4).alias("ewm_mean")
    )


def _cut_oracle() -> str:
    from pontem_spark.operators.binning import equal_width_bins_oracle_sql

    cte, bucket = equal_width_bins_oracle_sql("orders", "o_totalprice", bins=8)
    return f"WITH {cte} SELECT o_orderkey, {bucket} AS bucket FROM orders, edges"


@register("q_api_cut", _cut_oracle())
def q_api_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas.cut(bins=8, labels=False, right=True) over order totals —
    ONE min/max aggregate broadcast as a single row of edges, then a pure
    map-side fold counting internal edges below the value (no window, no
    shuffle of the fact rows). Edges rounded to 1e-6 so both engines
    bucket from identical doubles (operators/binning.py::equal_width_bins)."""
    from pontem_spark.operators.binning import equal_width_bins

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return equal_width_bins(orders, "o_totalprice", bins=8).select(
        "o_orderkey", F.col("bucket").cast("int").alias("bucket")
    )


@register(
    "q_api_get_dummies",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderstatus = 'F' AS INTEGER) AS status_F,
           CAST(o_orderstatus = 'O' AS INTEGER) AS status_O,
           CAST(o_orderstatus = 'P' AS INTEGER) AS status_P
    FROM orders
    """,
)
def q_api_get_dummies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas.get_dummies over o_orderstatus: one loudly-guarded distinct
    collect (the indicators BECOME the schema, which cannot be lazy), then
    a pure map-side projection — no shuffle at any scale
    (core/frame.py::get_dummies)."""
    from pontem_spark.core import from_spark, get_dummies

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    f = from_spark(orders, index_col="o_orderkey")
    f = f.rename(columns={"o_orderstatus": "status"})
    out = get_dummies(f, "status").to_spark()
    return out.select(
        F.col(out.columns[0]).alias("o_orderkey"),
        F.col("status_F").cast("int").alias("status_F"),
        F.col("status_O").cast("int").alias("status_O"),
        F.col("status_P").cast("int").alias("status_P"),
    )


@register(
    "q_api_where_ffill_rolling",
    oracle="""
    WITH seq AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS v,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS pos
      FROM orders WHERE o_orderkey <= 2000
    ),
    gated AS (
      SELECT o_orderkey, pos,
             CASE WHEN v < CAST(100000.0 AS DOUBLE) THEN v END AS v
      FROM seq
    ),
    filled AS (
      SELECT o_orderkey, pos,
             last_value(v IGNORE NULLS) OVER (
               ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS v
      FROM gated
    )
    SELECT o_orderkey,
           ROUND(AVG(v) OVER (
             ORDER BY pos ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 4) AS smoothed
    FROM filled
    """,
)
def q_api_where_ffill_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r7 frame-API surface composed end-to-end through the wrapper:
    scalar comparison (df < x, missing-compares-False), where (null out
    the gated cells), ffill (one shared window), rolling(3,
    min_periods=1).mean() (FrameRolling, same shared sort) — the outlier
    null-and-smooth idiom; the oracle replays the identical two window
    scans in SQL."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", F.col("o_totalprice").cast("double").alias("v"))
    )
    f = from_spark(base, index_col="o_orderkey")[["v"]]
    smoothed = f.where(f < 100000.0).ffill().rolling(3, min_periods=1).mean()
    out = smoothed.to_spark(index_col="o_orderkey")
    return out.select(
        "o_orderkey", rnd(F.col("v"), 4).alias("smoothed")
    )


@register(
    "q_api_value_counts_xs",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS count
    FROM documents WHERE lang = 'en' GROUP BY source
    """,
)
def q_api_value_counts_xs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r7 frame surface composed: documents (lang, source) →
    value_counts (one hash agg into a struct-indexed Series) → xs('en',
    level='lang') (pushdown filter on the struct field + level drop) —
    the oracle is the equivalent filtered GROUP BY."""
    from pontem_spark.core import from_spark

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    f = from_spark(docs, index_col="doc_id")[["lang", "source"]]
    vc = f.value_counts()
    en = vc.xs("en", level="lang")
    out = en.to_spark(value_name="count")
    idx = [c for c in out.columns if c != "count"][0]
    return out.select(F.col(idx).alias("source"), F.col("count"))


@register(
    "q_api_groupby_skew_sem",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority,
             CAST(COUNT(o_totalprice) AS DOUBLE) AS n,
             SUM(CAST(o_totalprice AS DOUBLE)) AS s1,
             SUM(CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE)) AS s2,
             SUM(CAST(o_totalprice AS DOUBLE) * CAST(o_totalprice AS DOUBLE)
                 * CAST(o_totalprice AS DOUBLE)) AS s3
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority,
           ROUND(
             CASE WHEN n >= 3 THEN
               CASE WHEN (s2/n - (s1/n)*(s1/n)) > 0 THEN
                 ((s3/n - 3.0*(s1/n)*(s2/n) + 2.0*(s1/n)*(s1/n)*(s1/n))
                  / pow(s2/n - (s1/n)*(s1/n), CAST(1.5 AS DOUBLE)))
                 * sqrt(n*(n-1.0)) / (n-2.0)
               ELSE CAST(0.0 AS DOUBLE) END
             END, 6) AS skew,
           ROUND(
             CASE WHEN n >= 2 THEN
               sqrt(greatest(s2 - s1*s1/n, CAST(0.0 AS DOUBLE)) / (n-1.0)) / sqrt(n)
             END
           , 6) AS sem
    FROM m
    """,
)
def q_api_groupby_skew_sem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped skewness (adjusted Fisher-Pearson G1) and standard error
    of the mean per order priority — both derived from raw moment sums
    (n, Σx, Σx², Σx³) on BOTH engines (core/groupby.py::_COMPOSITE_AGGS;
    engine-native skewness()/stddev accumulations differ, the
    derive-from-sums discipline does not)."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast("double").alias("v")
    )
    f = from_spark(orders, index_col="o_orderkey")
    agg = f.groupby("o_orderpriority").agg({"v": ["skew", "sem"]})
    out = agg.to_spark(index_col="o_orderpriority")
    return out.select(
        "o_orderpriority",
        rnd(F.col("v_skew"), 6).alias("skew"),
        rnd(F.col("v_sem"), 6).alias("sem"),
    )


@register(
    "q_api_rank_na_option",
    oracle="""
    WITH li AS MATERIALIZED (
        -- one row per idx: the synthetic lineitem can repeat an
        -- (orderkey, linenumber) pair, and rank needs unique labels
        SELECT l_orderkey * 10 + l_linenumber AS idx,
               AVG(CASE WHEN l_quantity > 45 THEN NULL
                        ELSE CAST(l_quantity AS DOUBLE) END) AS v
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate < DATE '1995-04-01'
        GROUP BY 1
    )
    SELECT idx,
           ROUND(RANK() OVER (ORDER BY v ASC NULLS FIRST)
                 + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0, 2) AS r_top,
           ROUND(RANK() OVER (ORDER BY v ASC NULLS LAST)
                 + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0, 2) AS r_bottom,
           CASE WHEN v IS NULL THEN NULL
                ELSE ROUND(RANK() OVER (ORDER BY v ASC NULLS LAST)
                           + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0, 2)
           END AS r_keep,
           ROUND(CAST(DENSE_RANK() OVER (ORDER BY v ASC NULLS FIRST)
                      AS DOUBLE), 2) AS r_dense_top
    FROM li
    """,
)
def q_api_rank_na_option(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series.rank through the wrapper — driver evidence for the r10
    na_option tail (core/series.py::rank): the missing block ranks as ONE
    tie group before ('top') / after ('bottom') every valid value, or
    stays missing ('keep'); dense+top gives the block its own dense
    bucket. Scale shape: average/dense derive on the DISTINCT-value frame
    (a window over ~46 quantity values, never the raw rows) + one
    equi-join back — the injected NULL block (quantity > 45) rides the
    same path as real missing data."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-04-01"))
        )
        # one row per idx: the synthetic lineitem can repeat an
        # (orderkey, linenumber) pair, and rank needs unique labels
        .groupBy(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("idx")
        )
        .agg(
            F.avg(
                F.when(F.col("l_quantity") > 45, F.lit(None)).otherwise(
                    F.col("l_quantity").cast("double")
                )
            ).alias("v")
        )
    )
    s = from_spark(li).set_index("idx")["v"]
    top = s.rank(na_option="top").to_spark(value_name="r_top")
    bottom = s.rank(na_option="bottom").to_spark(value_name="r_bottom")
    keep = s.rank(na_option="keep").to_spark(value_name="r_keep")
    dense = s.rank(method="dense", na_option="top").to_spark(value_name="r_dense_top")
    j = top.join(bottom, "idx").join(keep, "idx").join(dense, "idx")
    return j.select(
        "idx",
        rnd(F.col("r_top"), 2).alias("r_top"),
        rnd(F.col("r_bottom"), 2).alias("r_bottom"),
        rnd(F.col("r_keep"), 2).alias("r_keep"),
        rnd(F.col("r_dense_top"), 2).alias("r_dense_top"),
    )


@register(
    "q_api_nextreme_keep",
    oracle="""
    WITH c AS MATERIALIZED (
        SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1
    ),
    nl_all AS (
        SELECT 'nlargest_all' AS variant, d, cnt FROM c
        WHERE cnt >= (SELECT cnt FROM c ORDER BY cnt DESC LIMIT 1 OFFSET 9)
    ),
    nl_first AS (
        SELECT 'nlargest_first' AS variant, d, cnt FROM c
        ORDER BY cnt DESC, d ASC LIMIT 10
    ),
    ns_last AS (
        SELECT 'nsmallest_last' AS variant, d, cnt FROM c
        ORDER BY cnt ASC, d DESC LIMIT 10
    )
    SELECT variant, strftime(d, '%Y-%m-%d') AS d, cnt FROM nl_all
    UNION ALL SELECT variant, strftime(d, '%Y-%m-%d') AS d, cnt FROM nl_first
    UNION ALL SELECT variant, strftime(d, '%Y-%m-%d') AS d, cnt FROM ns_last
    """,
)
def q_api_nextreme_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series.nlargest/nsmallest keep= through the wrapper — driver
    evidence for the r10 keep tail (core/series.py::_n_extreme): integer
    per-date order counts tie heavily at the n-th value, so 'all' must
    return the whole boundary tie group (rows > n), while 'first'/'last'
    pick by lowest/highest index among the ties. Plan shape:
    TakeOrderedAndProject for first/last (k rows per partition move, no
    global sort); 'all' adds one broadcast 1-row threshold join."""
    from pontem_spark.core import from_spark

    cnts = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    s = from_spark(cnts).set_index("d")["cnt"]
    parts = []
    for variant, res in (
        ("nlargest_all", s.nlargest(10, keep="all")),
        ("nlargest_first", s.nlargest(10, keep="first")),
        ("nsmallest_last", s.nsmallest(10, keep="last")),
    ):
        parts.append(
            res.to_spark(value_name="cnt").select(
                F.lit(variant).alias("variant"),
                F.date_format("d", "yyyy-MM-dd").alias("d"),
                F.col("cnt").cast("bigint").alias("cnt"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "q_api_ctor_order_positional",
    oracle="""
    WITH topc AS (
      SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS v
      FROM customer
      ORDER BY CAST(c_acctbal AS DOUBLE) DESC, c_custkey ASC LIMIT 150
    ), oa AS (
      SELECT c_custkey, v,
             ROW_NUMBER() OVER (ORDER BY v DESC, c_custkey ASC) AS pos
      FROM topc
    ), li AS (
      SELECT l_orderkey, CAST(l_quantity AS DOUBLE) AS v,
             ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber,
                                l_quantity, l_extendedprice, l_partkey,
                                l_suppkey) AS pos
      FROM lineitem WHERE l_orderkey <= 400
    )
    SELECT 'nonmono_ctor' AS variant, c_custkey AS idx, ROUND(v, 2) AS v,
           ROUND(SUM(v) OVER (ORDER BY pos), 2) AS csum,
           ROUND(LAG(v) OVER (ORDER BY pos), 2) AS prev
    FROM oa
    UNION ALL
    SELECT 'dup_monotonic' AS variant, l_orderkey AS idx, ROUND(v, 2) AS v,
           ROUND(SUM(v) OVER (ORDER BY pos), 2) AS csum,
           ROUND(LAG(v) OVER (ORDER BY pos), 2) AS prev
    FROM li
    """,
)
def q_api_ctor_order_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional cumsum/shift through the pandas-parity constructors —
    driver evidence for the construction-order spec (core/frame.py
    ``__ctor__``, core/internal.py from_local): non-monotonic explicit
    index (r11 fix) and monotonic-with-duplicate-labels (r12 ADVICE fix).

    Scale shape: the CONSTRUCTION path is driver-local by definition
    (pandas parity for `pd.DataFrame(dict, index=...)`), so both slices
    are predicate/limit-bounded (150 rows / l_orderkey<=400 ≈ 1.6k rows
    at every SF) before they touch the driver; the positional ops
    themselves run as Catalyst window sums over the recorded order, not
    driver loops."""
    import pandas as pd

    from pontem_spark.core import DataFrame as PFrame, Series
    from pontem_spark.functions.compat import rnd

    # variant A: non-monotonic unique index; stays in-engine end-to-end
    # (ctor -> setitem composition -> to_spark)
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", F.col("c_acctbal").cast("double").alias("v"))
        .orderBy(F.col("v").desc(), F.col("c_custkey").asc())
        .limit(150)
        .toPandas()
    )
    a = PFrame(
        {"v": cust["v"].tolist()}, index=cust["c_custkey"].tolist(), spark=spark
    )
    a["csum"] = a["v"].cumsum()
    a["prev"] = a["v"].shift(1)
    sa = a.to_spark("idx").select(
        F.lit("nonmono_ctor").alias("variant"),
        F.col("idx").cast("bigint").alias("idx"),
        rnd(F.col("v"), 2).alias("v"),
        rnd(F.col("csum"), 2).alias("csum"),
        rnd(F.col("prev"), 2).alias("prev"),
    )
    # variant B: monotonic index with duplicate labels. Computed through
    # Series positional ops; assembled positionally on the driver because
    # label-joins over duplicate labels fan out (pandas itself refuses
    # duplicate-label alignment) — the slice is predicate-bounded.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 400)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("v"),
            "l_extendedprice",
            "l_partkey",
            "l_suppkey",
        )
        .orderBy(
            "l_orderkey", "l_linenumber", "v", "l_extendedprice",
            "l_partkey", "l_suppkey",
        )
        .toPandas()
    )
    s = Series(li["v"].tolist(), index=li["l_orderkey"].tolist(), spark=spark)
    csum = s.cumsum().to_pandas()  # construction order, per the ctor spec
    prev = s.shift(1).to_pandas()
    # Tuples + explicit schema, NOT a pandas frame: pandas coerces the
    # leading shift-NULL to float NaN, and a non-Arrow createDataFrame
    # (the driver's vanilla session) keeps NaN as a double NaN instead of
    # SQL NULL — the portable round then floors NaN to 0.0.
    rows = [
        (
            int(k),
            float(v),
            float(c),
            None if pd.isna(p) else float(p),
        )
        for k, v, c, p in zip(
            li["l_orderkey"], li["v"], csum.values, prev.values
        )
    ]
    sb = spark.createDataFrame(
        rows, "idx bigint, v double, csum double, prev double"
    ).select(
        F.lit("dup_monotonic").alias("variant"),
        F.col("idx"),
        rnd(F.col("v"), 2).alias("v"),
        rnd(F.col("csum"), 2).alias("csum"),
        rnd(F.col("prev"), 2).alias("prev"),
    )
    return sa.unionByName(sb)


@register(
    "q_api_rowalign_dup_labels",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, CAST(l_quantity AS DOUBLE) AS v,
             ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber,
                                l_quantity, l_extendedprice, l_partkey,
                                l_suppkey) AS pos
      FROM lineitem WHERE l_orderkey <= 400
    )
    SELECT l_orderkey AS idx, ROUND(v, 2) AS v,
           ROUND(v - LAG(v) OVER (ORDER BY pos), 2) AS delta,
           ROUND(SUM(v) OVER (ORDER BY pos), 2) AS csum,
           ROUND(v / SUM(v) OVER (ORDER BY pos), 6) AS share
    FROM li
    """,
)
def q_api_rowalign_dup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-label row-aligned derivations, in-engine end to end —
    driver evidence for the r12 aligner campaign (core/internal.py
    rowalign_left_join and rowalign_keys) and the r13
    same-anchor positional rebuild (core/series.py shift/_cum/pct_change
    fast paths + _mat_pair).

    Scale shape: the slice is predicate-bounded before anything else
    happens; the positional ops are Catalyst window functions over the
    recorded order spec (the global total order is the pandas-parity
    semantic — a grouped pipeline would carry partition keys in the
    spec); every binop and the two setitems compose on ONE anchor, so
    the plan is a single scan + Window nodes + zero joins/shuffles
    besides the window sort."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 400)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("v"),
            "l_extendedprice",
            "l_partkey",
            "l_suppkey",
        )
    )
    f = from_spark(li, index_col="l_orderkey")
    # index-level name + columns — a TOTAL key (unique per row), so the
    # visible order is deterministic and the oracle's ROW_NUMBER replays it
    f = f.sort_values(
        ["l_orderkey", "l_linenumber", "v", "l_extendedprice",
         "l_partkey", "l_suppkey"]
    )
    v = f["v"]
    f["delta"] = v - v.shift(1)
    f["csum"] = v.cumsum()
    f["share"] = v / v.cumsum()
    return f.to_spark("idx").select(
        F.col("idx").cast("bigint").alias("idx"),
        rnd(F.col("v"), 2).alias("v"),
        rnd(F.col("delta"), 2).alias("delta"),
        rnd(F.col("csum"), 2).alias("csum"),
        rnd(F.col("share"), 6).alias("share"),
    )


@register(
    "q_api_frame_align_arith",
    oracle="""
    WITH a AS (
      SELECT l_orderkey AS k, CAST(SUM(l_quantity) AS DOUBLE) AS qty,
             CAST(SUM(l_extendedprice) AS DOUBLE) AS revenue
      FROM lineitem WHERE l_orderkey <= 2000 GROUP BY l_orderkey
    ), b AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS revenue,
             CAST(o_totalprice AS DOUBLE) * 0.1 AS tax
      FROM orders WHERE o_orderkey <= 2500
    )
    SELECT COALESCE(a.k, b.k) AS idx,
           CAST(NULL AS DOUBLE) AS qty,
           ROUND((a.revenue + b.revenue) / 2.0, 2) AS revenue,
           CAST(NULL AS DOUBLE) AS tax
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
)
def q_api_frame_align_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frame ⊕ frame two-axis alignment (r13 surface), in-engine end to
    end: two from_spark frames with different column sets combine through
    ``(f1 + f2) / 2`` — columns align by name (sorted union; one-sided
    columns are all-NaN like pandas), rows align by a full-outer index
    join, and the scalar divide composes on the result anchor.

    Scale shape: both inputs are predicate-bounded aggregates; the
    alignment is ONE full-outer hash equi-join on the index plus
    column-wise Catalyst expressions — no per-column joins, no UDFs, no
    driver materialization."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(
            F.sum("l_quantity").cast("double").alias("qty"),
            F.sum("l_extendedprice").cast("double").alias("revenue"),
        )
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 2500)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").cast("double").alias("revenue"),
            (F.col("o_totalprice").cast("double") * 0.1).alias("tax"),
        )
    )
    f1 = from_spark(li, index_col="k")
    f2 = from_spark(od, index_col="k")
    g = (f1 + f2) / 2
    return g.to_spark("idx").select(
        F.col("idx").cast("bigint").alias("idx"),
        F.col("qty").cast("double").alias("qty"),
        rnd(F.col("revenue"), 2).alias("revenue"),
        F.col("tax").cast("double").alias("tax"),
    )


@register(
    "q_api_frame_axis0_mod",
    oracle="""
    WITH a AS (
      SELECT l_orderkey AS k, CAST(SUM(l_quantity) AS DOUBLE) AS qty,
             CAST(SUM(l_extendedprice) AS DOUBLE) AS rev
      FROM lineitem WHERE l_orderkey <= 2000 GROUP BY l_orderkey
    )
    SELECT k AS idx,
           ROUND(qty / (qty + rev), 6) AS qty_share,
           ROUND(rev / (qty + rev), 6) AS rev_share,
           ROUND((qty - 30.0) - FLOOR((qty - 30.0) / 7.0) * 7.0, 2) AS qty_mod,
           ROUND((rev - 30.0) - FLOOR((rev - 30.0) / 7.0) * 7.0, 2) AS rev_mod
    FROM a
    """,
)
def q_api_frame_axis0_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """axis=0 Series broadcast + pandas-corrected frame mod, in-engine.

    ``f.div(f["qty"] + f["rev"], axis=0)`` broadcasts the row-total
    Series down the INDEX axis (r14 _named_op axis surface); the series
    is derived from the SAME anchor, so the broadcast is a pure
    projection — zero joins, plan-identical to a hand-written select.
    ``(f - 30).mod(7)`` exercises the divisor-sign mod the r14 rewrite
    routed through cells.mod_cols (qty - 30 goes negative on small
    orders, where Spark's native % disagrees with pandas/Python).

    Scale shape: predicate-bounded aggregate in, column-wise Catalyst
    expressions out. One shuffle (the groupBy); no UDFs; no driver
    materialization."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    agg = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(
            F.sum("l_quantity").cast("double").alias("qty"),
            F.sum("l_extendedprice").cast("double").alias("rev"),
        )
    )
    f = from_spark(agg, index_col="k")
    shares = f.div(f["qty"] + f["rev"], axis=0)
    mods = (f - 30.0).mod(7.0)
    out = shares
    out["qty_mod"] = mods["qty"]
    out["rev_mod"] = mods["rev"]
    return out.to_spark("idx").select(
        F.col("idx").cast("bigint").alias("idx"),
        rnd(F.col("qty"), 6).alias("qty_share"),
        rnd(F.col("rev"), 6).alias("rev_share"),
        rnd(F.col("qty_mod"), 2).alias("qty_mod"),
        rnd(F.col("rev_mod"), 2).alias("rev_mod"),
    )


@register(
    "q_api_multiindex_align_fill",
    oracle="""
    WITH a AS (
      SELECT l_suppkey AS s, l_partkey AS p,
             CAST(SUM(l_quantity) AS DOUBLE) AS qa
      FROM lineitem WHERE l_orderkey <= 1200 GROUP BY l_suppkey, l_partkey
    ), b AS (
      SELECT l_suppkey AS s, l_partkey AS p,
             CAST(SUM(l_quantity) AS DOUBLE) AS qa
      FROM lineitem WHERE l_orderkey BETWEEN 600 AND 1800
      GROUP BY l_suppkey, l_partkey
    )
    SELECT COALESCE(a.s, b.s) AS s, COALESCE(a.p, b.p) AS p,
           ROUND(COALESCE(a.qa, 0) + COALESCE(b.qa, 0), 2) AS qa
    FROM a FULL OUTER JOIN b ON a.s = b.s AND a.p = b.p
    """,
)
def q_api_multiindex_align_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiIndex frame ⊕ frame alignment with fill_value, in-engine.

    Two overlapping (suppkey, partkey) aggregate slices become
    struct-MultiIndexed frames via the r14 ``from_spark(sdf,
    index_col=["s", "p"])`` list form; ``fa.add(fb, fill_value=0)``
    aligns rows by the struct index with one-sided cells filled before
    the op (the r14 cross-anchor missing-mask fix — dtypes resolve from
    the pre-join schemas, so the fill actually lands).

    Scale shape: both inputs are predicate-bounded aggregates and both
    frames are spec-None (index order), so the alignment compiles to ONE
    full-outer hash equi-join on the struct key — no windows, no
    cartesian risk (group keys are unique per side), no UDFs."""
    from pontem_spark.core import from_spark
    from pontem_spark.functions.compat import rnd

    li = load_table(spark, sf_dir, "lineitem")

    def slice_agg(pred):
        return (
            li.filter(pred)
            .groupBy(
                F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
            )
            .agg(F.sum("l_quantity").cast("double").alias("qa"))
        )

    fa = from_spark(slice_agg(F.col("l_orderkey") <= 1200), index_col=["s", "p"])
    fb = from_spark(
        slice_agg(F.col("l_orderkey").between(600, 1800)), index_col=["s", "p"]
    )
    tot = fa.add(fb, fill_value=0)
    flat = tot.reset_index()
    return flat.to_spark("ridx").select(
        F.col("s").cast("bigint").alias("s"),
        F.col("p").cast("bigint").alias("p"),
        rnd(F.col("qa"), 2).alias("qa"),
    )
