"""Dataset profiling + statistical outlier operators.

The first thing a 100 TB curation job runs is a profile: per-column null
counts, cardinalities, ranges — the dataset-card numbers. Both operators
here are single-aggregation-pass shapes: ONE groupBy-less agg computes every
metric map-side-combinable, then cheap post-processing (an unpivot, a
broadcast join) fans the scalar results back out. No second scan of the
data, no driver-side loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from pontem_spark.functions.compat import rnd


def profile_columns(
    df: DataFrame, cols: Sequence[str], approx: bool = False, rsd: float = 0.02
) -> DataFrame:
    """Per-column (n_rows, n_nulls, n_distinct) in ONE aggregation pass.

    All metrics for all columns are computed in a single agg (partial
    aggregation absorbs everything map-side); the per-column rows are then
    produced by an unpivot (``stack``) over the 1-row result — a constant-
    size operation regardless of input scale.

    ``approx=True`` is the at-scale toggle: ``approx_count_distinct``
    (HyperLogLog++, default relative error ``rsd`` = 2%) replaces the exact
    distinct. The exact form shuffles one hash per (column, distinct value)
    — fine up to ~10^9 distincts; at 100 TB cardinalities the HLL sketch is
    a few KB per column and the whole profile becomes one map-side pass
    plus a constant-size merge.
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nn_{c}"))
        if approx:
            aggs.append(F.approx_count_distinct(F.col(c), rsd).alias(f"__nd_{c}"))
        else:
            aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(f"'{c}', __nn_{c}, __nd_{c}" for c in cols)
    return one.select(
        F.expr(f"stack({len(cols)}, {stack_args}) AS (column_name, n_nulls, n_distinct)"),
        F.col("__n").alias("n_rows"),
    ).select("column_name", "n_rows", "n_nulls", "n_distinct")


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    keep_cols: Sequence[str],
    threshold: float = 2.5,
    round_digits: int = 2,
) -> DataFrame:
    """Rows whose value is more than ``threshold`` population-std-devs from
    the mean — the classic anomaly gate (price errors, length explosions).

    The corpus statistics reduce to ONE row (map-side combinable avg +
    stddev_pop), which then broadcast-joins back onto the data: two narrow
    scans total, zero wide shuffles, no window-over-everything (a global
    window would funnel 100 TB through one partition).
    """
    stats = df.agg(
        F.avg(value_col).alias("__mu"),
        F.stddev_pop(value_col).alias("__sigma"),
    )
    z = (F.col(value_col) - F.col("__mu")) / F.col("__sigma")
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("zscore", rnd(z, round_digits))
        .filter(F.abs(F.col("zscore")) > threshold)
        .select(*keep_cols, "zscore")
    )


def population_stability(
    df: DataFrame,
    value_col: str,
    split_cond: Column,
    group_cols: "list[str] | None" = None,
    bin_width: float = 60.0,
    n_bins: int = 10,
    eps: float = 1e-6,
    round_digits: int = 4,
) -> DataFrame:
    """Population Stability Index between two slices of the same frame —
    the standard data-drift monitor (PSI < 0.1 stable, > 0.25 drifted).

    ``split_cond`` marks the REFERENCE slice (e.g. ``ts < '…'``); the rest
    is the CURRENT slice. Values land in ``n_bins`` fixed-width bins (last
    bin catches overflow — fixed literal edges, so both engines and both
    slices bin identically with zero coordination), counts for both slices
    come from ONE aggregation pass (conditional sums — the table is scanned
    once, not once per slice), and ``PSI = Σ (p−q)·ln(p/q)`` with an
    epsilon floor so empty bins don't blow up the log.

    Scale shape: one scan → one shuffle of |groups × bins| partial counts →
    a |groups|-row result. Nothing else.
    """
    group_cols = group_cols or []
    bucket = F.least(
        F.floor(F.col(value_col) / F.lit(float(bin_width))), F.lit(n_bins - 1)
    ).cast("int")
    ref = F.sum(F.when(split_cond, 1).otherwise(0))
    cur = F.sum(F.when(split_cond, 0).otherwise(1))
    binned = (
        df.groupBy(*group_cols, bucket.alias("__bin"))
        .agg(ref.alias("__ref"), cur.alias("__cur"))
    )
    tot = (
        binned.groupBy(*group_cols)
        .agg(F.sum("__ref").alias("__tref"), F.sum("__cur").alias("__tcur"))
    )
    # coalesce BEFORE greatest: a group entirely absent from one slice has
    # total 0 → null share, and the engines disagree on greatest(null, x)
    # (Spark skips nulls, DuckDB propagates) — floor it to eps explicitly
    p = F.greatest(F.coalesce(F.col("__ref") / F.col("__tref"), F.lit(0.0)), F.lit(eps))
    q = F.greatest(F.coalesce(F.col("__cur") / F.col("__tcur"), F.lit(0.0)), F.lit(eps))
    contrib = (p - q) * F.log(p / q)
    joined = binned.join(tot, on=group_cols) if group_cols else binned.crossJoin(
        F.broadcast(tot)
    )
    out = joined.select(*group_cols, contrib.alias("__c"))
    agg = out.groupBy(*group_cols).agg(rnd(F.sum("__c"), round_digits).alias("psi"))
    return agg


def categorical_association(
    df: DataFrame,
    col_x: str,
    col_y: str,
    round_digits: int = 6,
) -> DataFrame:
    """Association strength between two categorical columns — mutual
    information (nats), normalized MI, and the chi-squared statistic, all
    from ONE contingency-table pass.

    Scale shape: one aggregate shuffle on (x, y) builds the contingency
    table (|X|·|Y| cells — tiny relative to the data); marginals and totals
    are unpartitioned windows over that tiny aggregate, and the three
    statistics fold map-side over the cells. Null categories count as a
    level of their own (they are often the most informative one).

    The profiling counterpart to :func:`population_stability`: PSI watches
    one column drift over time, this watches two columns covary — the
    standard screen for leakage/redundancy before a feature ships.
    """
    from pyspark.sql import Window

    x = F.coalesce(F.col(col_x).cast("string"), F.lit("__null__"))
    y = F.coalesce(F.col(col_y).cast("string"), F.lit("__null__"))
    cells = df.groupBy(x.alias("__x"), y.alias("__y")).agg(
        F.count(F.lit(1)).alias("__nxy")
    )
    all_w = Window.partitionBy()
    cells = cells.select(
        "__x",
        "__y",
        "__nxy",
        F.sum("__nxy").over(Window.partitionBy("__x")).alias("__nx"),
        F.sum("__nxy").over(Window.partitionBy("__y")).alias("__ny"),
        F.sum("__nxy").over(all_w).alias("__n"),
    )
    n = F.col("__n").cast("double")
    pxy = F.col("__nxy") / n
    px = F.col("__nx") / n
    py = F.col("__ny") / n
    exp = F.col("__nx").cast("double") * F.col("__ny") / n
    mi_term = pxy * F.log(pxy / (px * py))
    chi_term = (F.col("__nxy") - exp) * (F.col("__nxy") - exp) / exp
    hx_term = px * F.log(px)  # summed per distinct x via nxy/nx weighting
    agged = cells.agg(
        F.max("__n").alias("n"),
        F.sum(mi_term).alias("__mi"),
        F.sum(chi_term).alias("__chi2"),
        # H(X) = -Σ_x p(x) ln p(x): spread each x's term over its cells
        (-F.sum(hx_term * F.col("__nxy") / F.col("__nx"))).alias("__hx"),
        (-F.sum((py * F.log(py)) * F.col("__nxy") / F.col("__ny"))).alias("__hy"),
    )
    # a constant column has zero entropy → NMI is 0/0; emit NULL (defined)
    # rather than letting NaN flow through the floor-rounding arithmetic
    nmi = F.when(
        (F.col("__hx") > 0) & (F.col("__hy") > 0),
        F.col("__mi") / F.sqrt(F.col("__hx") * F.col("__hy")),
    )
    return agged.select(
        "n",
        rnd(F.col("__mi"), round_digits).alias("mi_nats"),
        rnd(nmi, round_digits).alias("nmi"),
        rnd(F.col("__chi2"), round_digits).alias("chi2"),
    )


def embedding_dimension_profile(
    df: DataFrame,
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Per-DIMENSION statistics of an embedding column — n/mean/sd/lo/hi
    for every vector position. The embedding-QA screen: dead dimensions
    (sd ≈ 0), saturated dimensions (|mean| ≫ sd), and scale drift between
    model versions all show up here before they poison a similarity index.

    Scale shape: posexplode fans each row into dim (pos, value) pairs, but
    the groupBy(pos) partially aggregates map-side, so the shuffle carries
    ~dims × partitions partial rows — never rows × dims. Stddev derives
    from (n, Σx, Σx²) with the explicit formula, mirrored term-for-term in
    the oracle (engine-native stddev implementations accumulate
    differently and would drift the hash).
    """
    from pontem_spark.functions.compat import rnd

    x = df.select(
        F.posexplode(vec_col).alias("dim", "__v")
    ).select("dim", F.col("__v").cast("double").alias("__v"))
    agged = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__v").alias("__s"),
        F.sum(F.col("__v") * F.col("__v")).alias("__ss"),
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
    )
    n = F.col("n").cast("double")
    var = (F.col("__ss") - F.col("__s") * F.col("__s") / n) / (n - 1)
    return agged.select(
        "dim",
        "n",
        rnd(F.col("__s") / n, round_digits).alias("mean"),
        # n >= 2 when-guard: Spark 4 ANSI throws on the /(n-1) double
        # division for a single-vector input (CaseWhen short-circuits,
        # so the guarded branch never evaluates it); sample sd of one
        # observation is NULL, matching STDDEV_SAMP
        rnd(F.when(n >= 2, F.sqrt(F.greatest(var, F.lit(0.0)))), round_digits).alias("sd"),
        rnd(F.col("__lo"), round_digits).alias("lo"),
        rnd(F.col("__hi"), round_digits).alias("hi"),
    )


def grouped_linear_trend(
    df: DataFrame,
    keys: "Sequence[str]",
    x: str,
    y: str,
    round_digits: int = 6,
) -> DataFrame:
    """Per-key OLS line fit (slope / intercept / r²) — the drift-trend
    companion to :func:`psi_drift`: "is this segment's metric moving, and
    how fast?".

    ONE sufficient-statistics aggregation (n, Σx, Σy, Σxy, Σx², Σy² — all
    map-side combinable) then closed-form algebra on the six numbers; no
    window, no second pass, shuffle = |keys| rows. The engine-native
    regr_slope/regr_r2 aggregates are avoided deliberately: their internal
    accumulation orders differ across engines, while the explicit-sums
    form is the portable one (the stddev lesson). Degenerate groups
    (constant x, or constant y for r²) yield NULL, not a division error.
    """
    xv = F.col(x).cast("double")
    yv = F.col(y).cast("double")
    agged = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(xv).alias("__sx"),
        F.sum(yv).alias("__sy"),
        F.sum(xv * yv).alias("__sxy"),
        F.sum(xv * xv).alias("__sxx"),
        F.sum(yv * yv).alias("__syy"),
    )
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    sxy, sxx, syy = F.col("__sxy"), F.col("__sxx"), F.col("__syy")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return agged.select(
        *keys,
        F.col("__n").cast("long").alias("n"),
        rnd(F.when(var_x != 0, slope), round_digits).alias("slope"),
        rnd(F.when(var_x != 0, (sy - slope * sx) / n), round_digits).alias(
            "intercept"
        ),
        rnd(
            F.when(var_x * var_y != 0, (cov_n * cov_n) / (var_x * var_y)),
            round_digits,
        ).alias("r2"),
    )


def skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Heavy-key diagnosis for a prospective join/aggregation key: the
    top-N keys by row count with their share and cumulative share of the
    table, plus the distinct-key count.

    The "do I need salting?" pre-check (compare with the salted two-phase
    join in queries/tpch.py): a key whose share approaches 1/partitions
    will bottleneck one task at scale. One map-side-combinable count
    aggregate (shuffle ~|keys| partials), a broadcast 1-row total, and a
    TakeOrderedAndProject for the top-N — the cumulative window runs over
    the N surviving rows only, never |keys|.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").alias("__total"),
        F.count(F.lit(1)).alias("__distinct_keys"),
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(top_n)
        .crossJoin(F.broadcast(totals))
    )
    w = (
        Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("key").asc()))
        .alias("rank"),
        "key",
        F.col("cnt").cast("bigint").alias("cnt"),
        rnd(F.col("cnt") / F.col("__total"), round_digits).alias("share"),
        rnd(F.sum("cnt").over(w) / F.col("__total"), round_digits).alias("cum_share"),
        F.col("__distinct_keys").cast("bigint").alias("distinct_keys"),
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    id_col: str,
    val_col: str,
    threshold: float = 3.5,
    round_digits: int = 4,
) -> DataFrame:
    """Robust per-group outliers by median absolute deviation: flag rows
    with |0.6745·(x − median)| / MAD > threshold (the Iglewicz–Hoaglin
    modified z-score).

    The z-score gate (zscore_outliers above) breaks down exactly when you
    need it — heavy tails inflate the stddev and hide the outliers; the
    median/MAD pair has a 50% breakdown point. Cost: two exact-percentile
    aggregates per group (median, then median of deviations) joined back
    by the group key — groups are few, so both joins broadcast; no window,
    no global sort. Degenerate groups (MAD = 0, over half the values
    identical) are excluded rather than dividing by zero (ANSI-safe).
    """
    med = df.groupBy(group_col).agg(
        F.percentile(F.col(val_col).cast("double"), F.lit(0.5)).alias("__med")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "__dev", F.abs(F.col(val_col).cast("double") - F.col("__med"))
    )
    mad = dev.groupBy(group_col).agg(
        F.percentile(F.col("__dev"), F.lit(0.5)).alias("__mad")
    )
    z = F.lit(0.6745) * (F.col(val_col).cast("double") - F.col("__med")) / F.col("__mad")
    return (
        dev.join(F.broadcast(mad), group_col)
        .filter(F.col("__mad") > 0)
        .withColumn("robust_z", rnd(z, round_digits))
        .filter(F.abs(F.col("robust_z")) > threshold)
        .select(group_col, id_col, F.col(val_col).cast("double").alias("value"), "robust_z")
    )


def seasonal_anomalies(
    df: DataFrame,
    season_cols: Sequence[str],
    val_col: str,
    keep_cols: Sequence[str],
    threshold: float = 2.0,
    min_bucket_n: int = 5,
    round_digits: int = 3,
) -> DataFrame:
    """Rows anomalous RELATIVE TO THEIR SEASON: z-score against the
    (season bucket) baseline rather than the global mean — the monitoring
    gate that catches "normal for 3am, broken for 3pm" deviations a
    global z-score (zscore_outliers) averages away.

    Plan shape: one partial-agg-combinable groupBy over the season
    buckets (output is |buckets| rows — e.g. event_type x 24 hours —
    regardless of input size), broadcast back onto the facts. The fact
    table is scanned twice but NEVER shuffled and never sorted — at
    100 TB that beats the window form, which would shuffle every row on
    the bucket key. Population variance is derived from (n, sum x,
    sum x^2) moments so both engines accumulate identically-shaped
    sums; the flag compares the ROUNDED z so a last-ulp difference
    cannot flip a row across the threshold.

    Buckets with fewer than ``min_bucket_n`` observations or ~zero
    variance produce no flags (a 3-observation baseline is noise, and
    /0 would throw under ANSI).
    """
    v = F.col(val_col).cast("double")
    base = df.filter(v.isNotNull()).groupBy(*season_cols).agg(
        F.count(val_col).alias("__n"),
        F.sum(v).alias("__s"),
        F.sum(v * v).alias("__ss"),
    )
    m = F.col("__s") / F.col("__n")
    varp = F.col("__ss") / F.col("__n") - m * m
    base = base.select(*season_cols, m.alias("__m"), varp.alias("__var"), "__n")
    joined = df.filter(v.isNotNull()).join(F.broadcast(base), list(season_cols))
    z = rnd((v - F.col("__m")) / F.sqrt(F.col("__var")), round_digits)
    return (
        joined.filter((F.col("__n") >= min_bucket_n) & (F.col("__var") > 1e-12))
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= threshold)
        .select(*keep_cols, *season_cols, v.alias("value"), "z")
    )


def ks_two_sample(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    bins: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov statistic: the max absolute
    gap between the two samples' empirical CDFs, evaluated on a shared
    equal-width grid. The nonparametric companion to PSI (psi_drift
    above): PSI needs a reference binning policy, KS reads the raw shape.

    The binning is the at-scale move: the exact KS needs a GLOBAL sort of
    both samples; on the shared grid it is one min/max aggregate
    (broadcast as edges), a map-side bucket fold, and one count aggregate
    whose output is ``bins`` rows — after which the CDF window runs over
    a constant-size frame. The statistic is exact for the binned
    distributions and within one bin-width of CDF resolution of the
    exact KS. Because every cumulative is an INTEGER count divided by an
    integer total, the statistic is bit-identical across engines — no
    float-accumulation freedom anywhere.

    Returns one row: (ks_stat, ks_bucket) — the gap and the bucket where
    it is attained (smallest bucket on ties of the rounded gap).
    """
    from pontem_spark.operators.binning import equal_width_bins

    u = df_a.select(
        F.col(col).cast("double").alias("__v"), F.lit(0).alias("__is_b")
    ).unionByName(
        df_b.select(F.col(col).cast("double").alias("__v"), F.lit(1).alias("__is_b"))
    )
    binned = equal_width_bins(u, "__v", bins).filter(F.col("bucket").isNotNull())
    counts = binned.groupBy("bucket").agg(
        F.sum(F.lit(1) - F.col("__is_b")).alias("__na"),
        F.sum("__is_b").alias("__nb"),
    )
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gap = rnd(
        F.abs(
            F.sum("__na").over(w_cum) / F.sum("__na").over(w_all).cast("double")
            - F.sum("__nb").over(w_cum) / F.sum("__nb").over(w_all).cast("double")
        ),
        round_digits,
    )
    return (
        counts.select(F.col("bucket").cast("int").alias("ks_bucket"), gap.alias("ks_stat"))
        .orderBy(F.desc("ks_stat"), F.asc("ks_bucket"))
        .limit(1)
        .select("ks_stat", "ks_bucket")
    )


def benford_profile(df: DataFrame, col: str, round_digits: int = 6) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    forensic data-quality gate (fabricated or truncated numeric columns
    bend away from log10(1 + 1/d)).

    Digit extraction is STRING-based on the floored integer part
    (``substr(cast(floor(abs(x)) as bigint as string), 1, 1)``) — zero
    floating-point freedom, unlike the log10-mantissa form where a
    last-ulp difference at an exact power of ten flips the digit between
    engines. Rows with |x| < 1 are excluded (no leading digit). One
    partial-agg groupBy to 9 rows; the share denominator is a window
    over those 9 rows, so the facts are scanned exactly once and never
    shuffled beyond the digit aggregate.
    """
    x = F.floor(F.abs(F.col(col).cast("double")))
    d = F.substring(x.cast("bigint").cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(F.col(col).isNotNull() & (x >= 1))
        .select(d.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Total as a window over the 9-row aggregate (an agg+crossJoin
    # diamond would re-scan the facts once per branch).
    w_all = Window.orderBy("digit").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return counts.select(
        "digit",
        "n",
        rnd(
            F.col("n") / F.sum("n").over(w_all).cast("double"), round_digits
        ).alias("obs_share"),
        rnd(
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")),
            round_digits,
        ).alias("expected_share"),
    )


def concentration_report(
    df: DataFrame,
    key_col: str,
    value_col: str,
    top_n: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """One-row concentration profile of a value over keys: Gini
    coefficient, Herfindahl-Hirschman index, top-1 and top-N shares —
    the "is this corpus/revenue dominated by a few sources?" gate that
    decides sampling and skew strategy downstream.

    Plan: one partial-agg groupBy to |keys| rows, ONE global rank window
    over those aggregates (the only sort — of keys, never facts), then a
    single 1-row aggregate. Gini comes from the descending-rank identity
    sum(i*x) = (n+1)*sum(x) - sum(j*x) (i ascending, j descending), so
    no second ranking pass is needed for the top-N share, which uses the
    same descending rank. Rank ties break on the key, a total order on
    both engines.
    """
    v = F.col(value_col).cast("double")
    per = df.groupBy(F.col(key_col).alias("k")).agg(F.sum(v).alias("x"))
    w_desc = Window.orderBy(F.desc("x"), F.desc("k"))
    ranked = per.select("k", "x", F.row_number().over(w_desc).alias("j"))
    one = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("tot"),
        F.sum(F.col("j") * F.col("x")).alias("sjx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.when(F.col("j") == 1, F.col("x")).otherwise(F.lit(0.0))).alias("t1"),
        F.sum(F.when(F.col("j") <= top_n, F.col("x")).otherwise(F.lit(0.0))).alias("tn"),
    )
    n = F.col("n").cast("double")
    tot = F.col("tot")
    six = (n + F.lit(1.0)) * tot - F.col("sjx")  # ascending-rank weighted sum
    gini = (F.lit(2.0) * six) / (n * tot) - (n + F.lit(1.0)) / n
    # tot != 0 when-guards: an all-zero measure would hit Spark 4 ANSI's
    # double DIVIDE_BY_ZERO throw; shares/HHI/gini are undefined there
    nz = tot != 0
    return one.select(
        F.col("n").cast("bigint").alias("n_keys"),
        rnd(F.when(nz, gini), round_digits).alias("gini"),
        rnd(F.when(nz, F.col("sxx") / (tot * tot)), round_digits).alias("hhi"),
        rnd(F.when(nz, F.col("t1") / tot), round_digits).alias("top1_share"),
        rnd(F.when(nz, F.col("tn") / tot), round_digits).alias(f"top{top_n}_share"),
    )


def abc_classification(
    df: DataFrame,
    key_col: str,
    value_col: str,
    a_cut: float = 0.8,
    b_cut: float = 0.95,
    round_digits: int = 6,
) -> DataFrame:
    """ABC / Pareto tiering: rank keys by value, accumulate shares, and
    tag the heads that make up ``a_cut`` of the total 'A', the next band
    to ``b_cut`` 'B', the tail 'C' — the standard inventory/corpus triage
    that concentration_report summarizes into one number.

    Plan: one |keys|-row aggregate, one descending rank window (ties
    break on the key — a total order both engines share), cumulative and
    total sums over the same window frame. Tier boundaries compare the
    ROUNDED cumulative share, so last-ulp running-sum skew cannot move a
    key across a tier.
    """
    v = F.col(value_col).cast("double")
    per = df.groupBy(F.col(key_col).alias("k")).agg(F.sum(v).alias("x"))
    w_ord = Window.orderBy(F.desc("x"), F.desc("k"))
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    w_all = w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum_share = rnd(F.sum("x").over(w_cum) / F.sum("x").over(w_all), round_digits)
    share = rnd(F.col("x") / F.sum("x").over(w_all), round_digits)
    ranked = per.select(
        F.col("k").alias(key_col),
        # rounded: a raw double sum differs in the last ulp across engines
        rnd(F.col("x"), round_digits).alias("value_sum"),
        share.alias("share"),
        cum_share.alias("cum_share"),
    )
    tier = (
        F.when(F.col("cum_share") <= F.lit(a_cut), F.lit("A"))
        .when(F.col("cum_share") <= F.lit(b_cut), F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return ranked.withColumn("tier", tier)
