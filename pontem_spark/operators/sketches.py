"""Mergeable distinct-count sketches (Apache DataSketches HLL, built into
Spark as ``hll_sketch_agg`` / ``hll_union_agg``).

``COUNT(DISTINCT x)`` is the one common aggregate that is NOT mergeable:
daily exact distinct counts cannot be added into a weekly number, so every
re-window re-scans raw history. An HLL sketch IS mergeable — keep one
~2^lgk-byte binary per (key, day) and ANY window's distinct estimate is a
union of the stored sketches, never a rescan. This is the distinct-count
companion to operators/incremental.py's monoid states: same shape
(build partial → merge → finalize), same production pattern (MERGE INTO a
state table), with bounded error (~1.6%/sqrt(2^lgk) relative).

Scale shape: the build shuffles hash partials (not raw values); merges
shuffle |keys| sketch blobs; estimates are a map-side projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pontem_spark.functions.compat import quote_ident


def hll_rollup(
    df: DataFrame, keys: list[str], col: str, lgk: int = 12, sketch_name: str = "hll"
) -> DataFrame:
    """Per-key HLL sketch state of ``col``'s distinct values."""
    return df.groupBy(*keys).agg(F.hll_sketch_agg(col, F.lit(lgk)).alias(sketch_name))


def merge_rollups(
    a: DataFrame, b: DataFrame, keys: list[str], sketch_name: str = "hll"
) -> DataFrame:
    """Merge two sketch states key-wise (union of the underlying sets).
    Associative and commutative — any merge tree yields the same estimate
    state a direct build over the union would."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(F.hll_union_agg(sketch_name).alias(sketch_name))
    )


def estimate(state: DataFrame, keys: list[str], sketch_name: str = "hll") -> DataFrame:
    """Read-time distinct estimates from the sketch state."""
    return state.select(
        *keys, F.hll_sketch_estimate(sketch_name).alias("n_distinct_est")
    )


def rollup_over(
    state: DataFrame,
    coarse_keys: list[str],
    sketch_name: str = "hll",
) -> DataFrame:
    """Re-aggregate a fine-grained sketch state to coarser keys (e.g.
    per-day → per-month) by unioning sketches — the operation exact
    distinct counts cannot do."""
    return (
        state.groupBy(*coarse_keys)
        .agg(F.hll_union_agg(sketch_name).alias(sketch_name))
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram states: the EXACTLY-mergeable quantile sketch.
#
# approx_percentile's KLL sketch is mergeable but engine-specific, so a
# cross-engine hash check is impossible. A fixed-range histogram state is
# mergeable AND exact: bin counts are integers, merging is element-wise
# addition, and a tree of per-day merges is bit-identical to a direct build
# over the union — so unlike HLL, the whole build→merge→finalize pipeline
# is oracle-checkable. Quantile error is bounded by one bin width.


def histogram_state(
    df: DataFrame,
    keys: "list[str]",
    col: str,
    lo: float,
    hi: float,
    n_bins: int = 32,
    bins_name: str = "bins",
) -> DataFrame:
    """Per-key histogram state of ``col``: an ``n_bins``-long count array
    over the fixed range [lo, hi). Out-of-range values clamp into the edge
    bins (the fixed range is the contract — pick it from domain knowledge,
    not the data, or merges of differently-ranged states would be
    meaningless). Nulls are skipped. ONE shuffle, fully map-side
    combinable: the partial states ARE the merge states."""
    w = (hi - lo) / n_bins
    # clamp in DOUBLE space BEFORE any integer cast: a far-out-of-range
    # value (or +/-Infinity) would overflow the int cast and, under
    # Spark 4's default ANSI mode, abort the whole aggregation instead of
    # clamping to the edge bin as promised. For in-range values the result
    # is identical (x=hi lands on n_bins and the least() takes the edge).
    #
    # The whole n_bins-sum aggregate rides ONE parsed SQL string (r15):
    # built as per-bin Column objects it cost ~8 Py4J round trips per bin —
    # ~1 s of driver time PER CALL at 32 bins, re-paid on EVERY streaming
    # micro-batch by run_histogram_rollup (the body of each foreachBatch is
    # this construction) — while parsing the identical expression text
    # JVM-side is 1 call. Same single-aggregation plan, same integer
    # counts (all arithmetic stays DOUBLE via explicit CASTs).
    lo_s = f"CAST({float(lo)!r} AS DOUBLE)"
    hi_s = f"CAST({float(hi)!r} AS DOUBLE)"
    w_s = f"CAST({float(w)!r} AS DOUBLE)"
    xc = f"least(greatest(CAST({quote_ident(col)} AS DOUBLE), {lo_s}), {hi_s})"
    b = f"least({n_bins - 1}, CAST(floor(({xc} - {lo_s}) / {w_s}) AS INT))"
    bins_arr = F.expr(
        "array("
        + ", ".join(
            f"sum(CASE WHEN ({b}) = {i} THEN 1 ELSE 0 END)" for i in range(n_bins)
        )
        + ")"
    ).alias(bins_name)
    present = F.col(quote_ident(col)).isNotNull()
    if df.schema[col].dataType.simpleString() in ("double", "float"):
        present = present & ~F.isnan(F.col(quote_ident(col)))  # NaN is missing, not a bin
    return df.filter(present).groupBy(*keys).agg(bins_arr)


def merge_histograms(
    a: DataFrame, b: DataFrame, keys: "list[str]", n_bins: int, bins_name: str = "bins"
) -> DataFrame:
    """Key-wise exact merge of histogram states (element-wise count sums via
    an in-row fold over the collected blobs — the shuffle carries
    ~|keys| arrays, never raw rows)."""
    # one parsed string (r15, same rationale as histogram_state): the
    # Python-lambda HOF form cost a few dozen Py4J calls per micro-batch
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            F.expr(
                f"aggregate(collect_list({quote_ident(bins_name)}), array_repeat(0L, {n_bins}), "
                "(acc, x) -> zip_with(acc, x, (p, q) -> p + q))"
            ).alias(bins_name)
        )
    )


def histogram_quantiles(
    state: DataFrame,
    keys: "list[str]",
    quantiles: "dict[str, float]",
    lo: float,
    hi: float,
    n_bins: int,
    bins_name: str = "bins",
    round_digits: int = 4,
) -> DataFrame:
    """Read-time quantile estimates from a histogram state — a pure map-side
    projection (in-row folds over the count array; zero shuffle, zero jobs).

    Estimate rule (deterministic integer math, shared verbatim with
    :func:`histogram_quantiles_sql` so DuckDB reproduces every double):
    rank ``target = max(1, ceil(q*n))``; ``bin`` = first bin whose cumulative
    count reaches target; linear interpolation inside that bin."""
    from pontem_spark.functions.compat import rnd

    w = (hi - lo) / n_bins
    n_expr = f"aggregate({bins_name}, 0L, (a, x) -> a + x)"
    cols = [F.col(k) for k in keys]
    for name, q in quantiles.items():
        # q is cast to DOUBLE on BOTH engines: a bare 0.9 literal is DECIMAL
        # in Spark SQL (and DuckDB), and decimal-vs-double q*n can ceil()
        # differently when the product lands on an integer
        target = f"greatest(1L, cast(ceil(cast({q!r} as double) * {n_expr}) as long))"
        bpos = f"element_at(filter(sequence(1, {n_bins}), i -> aggregate(slice({bins_name}, 1, i), 0L, (a, x) -> a + x) >= {target}), 1)"
        est = (
            f"cast({lo!r} as double) + cast({w!r} as double) * (cast({bpos} - 1 as double) + "
            f"cast({target} - if({bpos} = 1, 0L, aggregate(slice({bins_name}, 1, {bpos} - 1), 0L, (a, x) -> a + x)) as double)"
            f" / cast(element_at({bins_name}, {bpos}) as double))"
        )
        cols.append(rnd(F.expr(est), round_digits).alias(name))
    cols.append(F.expr(n_expr).alias("n"))
    return state.select(*cols)


def histogram_quantiles_sql(
    bins_sql: str,
    quantiles: "dict[str, float]",
    lo: float,
    hi: float,
    n_bins: int,
    round_digits: int = 4,
) -> "list[str]":
    """DuckDB twin of :func:`histogram_quantiles`'s estimate rule: SELECT
    items (one per quantile, plus ``n``) over a list-valued ``bins_sql``
    expression. The arithmetic mirrors the Spark expression term-for-term so
    both engines produce the same doubles."""
    w = (hi - lo) / n_bins
    s = 10.0 ** round_digits
    n_expr = f"list_sum({bins_sql})"
    items = []
    for name, q in quantiles.items():
        # CAST q AS DOUBLE mirrors the Spark side (bare decimal literals
        # would ceil() differently at exact-integer products)
        target = f"greatest(1, CAST(ceil(CAST({q!r} AS DOUBLE) * {n_expr}) AS BIGINT))"
        bpos = f"list_filter(generate_series(1, {n_bins}), i -> list_sum(({bins_sql})[1:i]) >= {target})[1]"
        est = (
            f"CAST({lo!r} AS DOUBLE) + CAST({w!r} AS DOUBLE) * (CAST({bpos} - 1 AS DOUBLE) + "
            f"CAST({target} - CASE WHEN {bpos} = 1 THEN 0 ELSE list_sum(({bins_sql})[1:{bpos} - 1]) END AS DOUBLE)"
            f" / CAST(({bins_sql})[{bpos}] AS DOUBLE))"
        )
        items.append(
            f"floor(({est}) * CAST({s!r} AS DOUBLE) + 0.5) / CAST({s!r} AS DOUBLE) AS {name}"
        )
    items.append(f"CAST({n_expr} AS BIGINT) AS n")
    return items


# ---------------------------------------------------------------------------
# Count-min sketch: the mergeable FREQUENCY sketch (heavy hitters).
#
# Exact per-key counts need a groupBy over every key — unbounded state when
# keys are high-cardinality (URLs, n-grams, user ids). A count-min sketch
# keeps a fixed depth x width counter grid: add is k hash increments, merge
# is element-wise addition (a monoid, like the histogram state above), and
# estimate(key) = min over the k rows — an OVERESTIMATE, never under:
# est >= true always, est <= true + eps*N with probability 1-delta
# (eps = e/width, delta = e^-depth). State is depth*width rows regardless
# of data size; merges shuffle the grid, never raw keys.


def cms_state(
    df: DataFrame, col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Build the (seed, bucket, cnt) counter grid of ``col``'s values.
    One explode(depth) + one hash aggregation; map-side partial counting
    bounds the shuffle at ~depth*width rows per partition."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seed"),
                F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(width)).alias(
                    "bucket"
                ),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.seed").alias("seed"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Element-wise addition of two counter grids — associative and
    commutative, so a merge tree over daily states equals a direct build
    over the union (asserted bit-identical in tests)."""
    return (
        a.unionByName(b).groupBy("seed", "bucket").agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    state: DataFrame, keys: DataFrame, col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Estimated count for each distinct value in ``keys[col]``: join the
    k (seed, bucket) coordinates against the grid, take the min. The grid
    is depth*width rows — always broadcast; missing cells count 0."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seed"),
                F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(width)).alias(
                    "bucket"
                ),
            )
            for i in range(depth)
        ]
    )
    probes = (
        keys.select(col).distinct().select(col, F.explode(pairs).alias("p"))
    )
    joined = probes.join(
        F.broadcast(state),
        on=(probes["p.seed"] == state["seed"])
        & (probes["p.bucket"] == state["bucket"]),
        how="left",
    )
    return joined.groupBy(col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cnt_est")
    )
