"""Incremental aggregation via mergeable partials — how a 100 TB pipeline
maintains rollups without rescanning history.

The pattern: keep per-key PARTIAL aggregates (count, sum, min, max — all
commutative-monoid states) in a compact table; when a new batch of data
lands, aggregate ONLY the batch and merge states key-wise. The merged
result is bit-identical to re-aggregating everything from scratch (floats
excepted by summation order — which is exactly why the states are summed in
a deterministic agg on both engines and rounded at derivation time), so the
cross-engine oracle can check the whole incremental path against a direct
GROUP BY over the full input.

Derived statistics (avg, var/stddev via the sum-of-squares state) come
from the states at READ time — never stored, so they stay consistent under
any merge order.

Scale shape: each increment shuffles only the NEW batch (and the state
table, which is ~|keys| rows, not |history| rows). The reference has no
aggregation surface at all (SURVEY §2.G); this is part of the promised
LLM-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pontem_spark.functions.compat import quote_ident, rnd

# The ONE state definition, shared by the batch DataFrame aggregations
# below and the Python tuple form used by streaming
# applyInPandasWithState (streaming/stateful.py). Field order is the tuple
# order; ``n`` counts NON-NULL values (SQL COUNT(value)) in both forms.
STATE_FIELDS = ("n", "total", "ss", "lo", "hi")
STATE_SCHEMA = "n bigint, total double, ss double, lo double, hi double"
# identity element of the merge monoid (min over inf / max over -inf)
ZERO_STATE = (0, 0.0, 0.0, float("inf"), float("-inf"))


def partial_from_pandas(values) -> tuple:
    """Aggregate a pandas Series into one state tuple — the Arrow-batch
    twin of :func:`rollup_state` for custom stateful streaming operators."""
    v = values.dropna()
    if len(v) == 0:
        return ZERO_STATE
    return (
        int(v.count()),
        float(v.sum()),
        float((v * v).sum()),
        float(v.min()),
        float(v.max()),
    )


def merge_state_tuples(a: tuple, b: tuple) -> tuple:
    """The merge law — identical, field for field, to :func:`merge_states`:
    adds for n/total/ss, min for lo, max for hi. Associative and
    commutative, so any batch arrival order yields the same state."""
    return (a[0] + b[0], a[1] + b[1], a[2] + b[2], min(a[3], b[3]), max(a[4], b[4]))


def rollup_state(df: DataFrame, keys: "list[str]", value_col: str) -> DataFrame:
    """Per-key mergeable aggregate state: (keys..., n, total, ss, lo, hi).

    ``ss`` (sum of squares) is the extra monoid column that lets the state
    serve variance/stddev at read time — sums of squares merge by addition
    exactly like sums."""
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(value_col).alias("n"),
        F.sum(value_col).alias("total"),
        F.sum(v * v).alias("ss"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )


def merge_states(a: DataFrame, b: DataFrame, keys: "list[str]") -> DataFrame:
    """Merge two state tables key-wise. Union + one aggregation — the same
    monoid ops, so merging is associative and a tree of merges (one per
    landed batch) equals one big aggregation."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("total").alias("total"),
            F.sum("ss").alias("ss"),
            F.min("lo").alias("lo"),
            F.max("hi").alias("hi"),
        )
    )


def finalize(state: DataFrame, keys: "list[str]", round_digits: int = 2) -> DataFrame:
    """Derive read-time statistics from the state (avg = total/n; sample
    stddev from the sum-of-squares identity, NULL when n < 2 like SQL
    STDDEV_SAMP), rounding the floats portably so the result is
    hash-comparable cross-engine. The textbook ``(ss - total²/n)/(n-1)``
    form is used on BOTH engines (the oracle replays it from SUM(x*x)), so
    any cancellation error is shared and absorbed by the rounding;
    ``greatest(…, 0)`` guards the sqrt against a tiny negative residual."""
    n = F.col("n")
    var = F.greatest(
        (F.col("ss") - F.col("total") * F.col("total") / n) / (n - 1), F.lit(0.0)
    )
    return state.select(
        *keys,
        n,
        rnd(F.col("total"), round_digits).alias("total"),
        rnd(F.col("total") / n, round_digits).alias("avg"),
        rnd(F.when(n >= 2, F.sqrt(var)), round_digits).alias("sd"),
        rnd(F.col("lo"), round_digits).alias("lo"),
        rnd(F.col("hi"), round_digits).alias("hi"),
    )


# ---- exponential time-decay state: decay is a mergeable monoid ------------


def decayed_state(
    df: DataFrame, key_col: str, ts_col: str, val_col: str, halflife_s: float
) -> DataFrame:
    """Per-key decayed-sum state (key, ref_us, n, sum_w, sum_wv), weights
    anchored at the key's newest event in THIS batch.

    Exponential decay is mergeable: a state anchored at ref can be
    re-anchored to any newer ref' by one multiplication with
    2^(-(ref'-ref)/h) — so streaming rollups of recency-weighted
    aggregates never rescan history (the histogram/HLL sketch property,
    for decay)."""
    # expressions ride parsed SQL strings (r15): built as Column objects
    # this construction cost ~100 ms of Py4J chatter per call — re-paid on
    # EVERY foreachBatch micro-batch by run_decayed_rollup. The strings
    # spell out the identical trees (explicit DOUBLE casts — bare SQL
    # float literals parse as DECIMAL), so weights are bit-identical.
    h = float(halflife_s)
    ts, val = quote_ident(ts_col), quote_ident(val_col)
    w = (
        f"power(CAST(2.0 AS DOUBLE), (-(CAST((ref_us - unix_micros({ts})) AS DOUBLE) "
        f"/ CAST(1000000.0 AS DOUBLE))) / CAST({h!r} AS DOUBLE))"
    )
    ref = df.groupBy(key_col).agg(
        F.expr(f"max(unix_micros({ts}))").alias("ref_us")
    )
    j = df.join(ref, key_col)
    return j.groupBy(key_col, "ref_us").agg(
        F.expr("CAST(count(1) AS BIGINT)").alias("n"),
        F.expr(f"sum({w})").alias("sum_w"),
        F.expr(f"sum(({w}) * CAST({val} AS DOUBLE))").alias("sum_wv"),
    )


def merge_decayed(
    a: DataFrame, b: DataFrame, key_col: str, halflife_s: float
) -> DataFrame:
    """Merge two decayed state tables: re-anchor both sides to the newer
    reference time, then add. One full-outer join on the key (state-sized,
    never event-sized); associative and commutative up to float rounding,
    exact in the weights' algebra."""
    an = [f"{c}" for c in (key_col, "ref_us", "n", "sum_w", "sum_wv")]
    aa = a.select(*an).alias("a")
    bb = b.select(*an).alias("b")
    j = aa.join(bb, getattr(aa, key_col) == getattr(bb, key_col), "full_outer")
    # parsed SQL strings (r15, same rationale as decayed_state — this
    # construction ran per micro-batch at ~200 ms of Py4J chatter); the
    # strings spell the identical trees term for term, explicit DOUBLE
    # casts everywhere a float literal appears, so the re-anchored weights
    # are bit-identical
    h = float(halflife_s)
    new_ref = "greatest(coalesce(a.ref_us, b.ref_us), coalesce(b.ref_us, a.ref_us))"

    def scaled(side: str) -> "tuple[str, str]":
        scale = (
            f"power(CAST(2.0 AS DOUBLE), (-(CAST(({new_ref} - {side}.ref_us) AS DOUBLE) "
            f"/ CAST(1000000.0 AS DOUBLE))) / CAST({h!r} AS DOUBLE))"
        )
        return (
            f"coalesce({side}.sum_w * ({scale}), CAST(0.0 AS DOUBLE))",
            f"coalesce({side}.sum_wv * ({scale}), CAST(0.0 AS DOUBLE))",
        )

    aw, awv = scaled("a")
    bw, bwv = scaled("b")
    return j.select(
        F.expr(f"coalesce(a.{quote_ident(key_col)}, b.{quote_ident(key_col)})").alias(key_col),
        F.expr(new_ref).alias("ref_us"),
        F.expr("CAST((coalesce(a.n, 0) + coalesce(b.n, 0)) AS BIGINT)").alias("n"),
        F.expr(f"({aw}) + ({bw})").alias("sum_w"),
        F.expr(f"({awv}) + ({bwv})").alias("sum_wv"),
    )


def finalize_decayed(state: DataFrame, key_col: str, round_digits: int = 4) -> DataFrame:
    """Read-time decayed statistics from the state (same output shape as
    operators/timeseries.py::time_decay_agg, so the two share an oracle)."""
    from pontem_spark.functions.compat import rnd

    return state.select(
        key_col,
        F.col("n").alias("n_events"),
        rnd(F.col("sum_wv"), round_digits).alias("decayed_total"),
        rnd(F.col("sum_wv") / F.col("sum_w"), round_digits).alias("decayed_mean"),
    )
