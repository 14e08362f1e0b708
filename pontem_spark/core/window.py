"""Visible-order transforms, written once for Series and DataFrame.

shift, diff, pct_change, the cumulative ops, ffill/bfill, interpolate,
rolling/expanding, ewm, resample and asfreq are each ONE rule over a
dict of value columns on an ``InternalFrame``: a Series passes its one
value column, a DataFrame all of its columns under one shared window
spec (Catalyst plans one sort for the whole frame). :class:`Visible`
stages the columns — on their own anchor when they are window-free,
else across one materialization — and every rule returns
``(internal, {name: column})``. The grouped windows (partitioned by the
group keys) follow at the end of the module.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql import Column, Window, functions as F

from pontem_spark.core import reductions
from pontem_spark.core.cells import combine_cells, dtypes, missing, truediv_cols
from pontem_spark.core.internal import INDEX_COL, InternalFrame


def _window_free(col: Column) -> bool:
    """True when ``col`` provably contains no window expression. Detection
    is the rendered expression: every window expression prints
    ``... OVER (...)``; a false positive (a string literal containing
    " OVER ") just takes the safe materialize path."""
    try:
        return " OVER " not in str(col)
    except Exception:
        return False


class Visible:
    """Value columns staged for a visible-order rule: THE window-free
    decision under Series and DataFrame.

    Window-free columns stay ON THEIR OWN ANCHOR, so a row-preserving
    result is same-anchor with its source and ``s - s.shift(1)``,
    ``d - d.cumsum()`` or ``f[c] = s.diff()`` compose column-wise with
    ZERO joins — the only pairing that is exact when duplicate index
    labels tie on every order-spec column (r13 probe: the label+helper
    join fanned 1540 rows to 2294 on a non-total sort key). Windowed
    columns materialize first, keeping the order spec and the row
    lineage (``row_tokens``); a Series result on that hop is tagged for
    ``Series._mat_pair``. Spark 4 accepts nested windows, but
    materializing windowed inputs also bounds expression growth in
    chains like ``s.diff().diff()``."""

    def __init__(self, internal: InternalFrame, cols: "dict[str, Column]"):
        cols = dict(cols)
        self.materialized = not all(_window_free(c) for c in cols.values())
        if self.materialized:
            sdf = internal.materialize(cols)
            internal = InternalFrame(
                sdf,
                INDEX_COL,
                internal.index_name,
                internal.order_spec,
                row_tokens=internal.row_tokens,
            )
            cols = {k: sdf[k] for k in cols}
        self.internal, self.cols = internal, cols

    @functools.cached_property
    def dts(self) -> "dict[str, str | None]":
        return dict(zip(self.cols, dtypes(self.internal.sdf, *self.cols.values())))

    def missing(self, k: str) -> Column:
        return missing(self.cols[k], self.dts[k])

    def valid(self, k: str) -> Column:
        """The cell blanked to NULL where pandas sees it missing (NULL or
        float NaN), so window counts and aggregates skip it like pandas."""
        return F.when(~self.missing(k), self.cols[k])

    def window(self, lo=None, hi=Window.currentRow):
        """The visible order (the order spec — a sorted frame shifts in
        sorted order like pandas), framed ``rowsBetween(lo, hi)`` when
        ``lo`` is given. Unpartitioned: driver-scale by construction; the
        partitioned form is the grouped windows below."""
        w = Window.orderBy(*self.internal.order_columns(self.internal.index_spark_col))
        return w if lo is None else w.rowsBetween(lo, hi)

    def sdf(self):
        """The materialized projection: index as INDEX_COL, the values
        under their names, the order-spec helpers."""
        if self.materialized:
            return self.internal.sdf
        return self.internal.materialize(self.cols)


def _offset(col: Column, periods: int, default, w) -> Column:
    if periods >= 0:
        return F.lag(col, periods, default).over(w)
    return F.lead(col, -periods, default).over(w)


def shift(src: Visible, periods: int, fill_value=None):
    """``fill_value`` fills the vacated edge positions (pandas keeps the
    column's dtype then instead of upcasting to float)."""
    w = src.window()
    return src.internal, {
        k: _offset(c, periods, fill_value, w) for k, c in src.cols.items()
    }


def diff(src: Visible, periods: int):
    """value − shift(periods) under the cell rules of ``s - s.shift()``."""
    _, prev = shift(src, periods)
    return src.internal, {
        k: combine_cells("sub", c, prev[k], src.dts[k], src.dts[k], int64=True)
        for k, c in src.cols.items()
    }


def pct_change(src: Visible, periods: int, fill_method):
    """pandas ``data / data.shift(periods) - 1``, where ``data`` is
    forward-filled first under the 'pad' default: a missing row compares
    against the last real value (0.0 if nothing changed), and the next
    real row compares against that same carried value. fill_method=None
    (the announced future default) skips the fill. pandas divides, not
    (v - prev) / prev: same algebra, different last-ulp floats. The
    division is zero-guarded: pandas' ±inf/NaN, not Spark 4's ANSI
    DIVIDE_BY_ZERO throw (fuzz: [0.0, 0.0])."""
    if fill_method not in (None, "pad", "ffill"):
        raise ValueError(f"pct_change: fill_method {fill_method!r}")
    w = src.window()
    pre = src.window(Window.unboundedPreceding)
    out = {}
    for k, c in src.cols.items():
        if fill_method is not None:
            c = F.last(src.valid(k), ignorenulls=True).over(pre)
        out[k] = truediv_cols(c, _offset(c, periods, None, w)) - 1
    return src.internal, out


def cum(src: Visible, aggfn):
    """Cumulative agg with pandas skipna semantics: missing positions stay
    missing, and missing values never enter the running state (Spark's
    NaN would otherwise poison a running max as the largest value; its
    null is skipped by the agg but pandas keeps the output slot NaN)."""
    w = src.window(Window.unboundedPreceding)
    return src.internal, {
        k: F.when(~src.missing(k), aggfn(src.valid(k)).over(w)) for k in src.cols
    }


def fill(src: Visible, forward: bool):
    """ffill/bfill: the last (next) valid value along the visible order;
    leading (trailing) missing stay missing. One ignore-nulls scan."""
    if forward:
        w, pick = src.window(Window.unboundedPreceding), F.last
    else:
        w, pick = src.window(Window.currentRow, Window.unboundedFollowing), F.first
    return src.internal, {
        k: pick(src.valid(k), ignorenulls=True).over(w) for k in src.cols
    }


def interpolate(src: Visible, method: str, limit: "int | None"):
    """pandas-default linear interpolation by POSITION (values treated as
    equally spaced): each interior missing run is filled linearly between
    its surrounding valid values, leading missing stay missing, and
    trailing missing carry the last valid value forward (pandas'
    ``limit_direction='forward'`` default, which quietly degrades
    extrapolation to ffill). ``limit`` caps how many consecutive missing
    rows get filled per run, counted forward from the last valid value
    (r8 probe). Two ignore-nulls window scans (last-before + first-after,
    the operators/timeseries.py gapfill shape) — all Catalyst, no UDF.
    Result dtype is double, like pandas' float64."""
    if method != "linear":
        raise ValueError("interpolate: only method='linear' is implemented")
    if limit is not None and (not isinstance(limit, int) or limit <= 0):
        raise ValueError("interpolate: limit must be a positive integer")
    sdf = src.sdf().select(
        INDEX_COL,
        *src.cols,
        F.row_number().over(
            Window.orderBy(*src.internal.order_columns(INDEX_COL))
        ).alias("__pos"),
    )
    pos = sdf["__pos"]
    wb = Window.orderBy("__pos").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wf = Window.orderBy("__pos").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    out = {}
    for k in src.cols:
        v = sdf[k]
        keep = ~missing(v, src.dts[k])
        valid_v = F.when(keep, v.cast("double"))
        valid_p = F.when(keep, pos)
        prev_v = F.last(valid_v, ignorenulls=True).over(wb)
        prev_p = F.last(valid_p, ignorenulls=True).over(wb)
        next_v = F.first(valid_v, ignorenulls=True).over(wf)
        next_p = F.first(valid_p, ignorenulls=True).over(wf)
        frac = (pos - prev_p).cast("double") / (next_p - prev_p).cast("double")
        gate = F.lit(True) if limit is None else (pos - prev_p) <= limit
        out[k] = (
            F.when(keep, v.cast("double"))
            .when(
                prev_v.isNotNull() & next_v.isNotNull() & gate,
                prev_v + (next_v - prev_v) * frac,
            )
            .when(prev_v.isNotNull() & gate, prev_v)  # trailing run: ffill
            # leading run: stays null → NaN in pandas
        )
    # __pos IS the visible order — carry it as the output spec
    internal = InternalFrame(sdf, INDEX_COL, src.internal.index_name, (("__pos", True),))
    return internal, out


def _midpoint(arr: Column) -> Column:
    """Median of a SORTED array (NULLs already dropped)."""
    cnt = F.size(arr)
    mid = (cnt / 2).cast("int")
    return F.when(
        cnt % 2 == 1, F.try_element_at(arr, mid + 1).cast("double")
    ).otherwise(
        (
            F.try_element_at(arr, mid).cast("double")
            + F.try_element_at(arr, mid + 1).cast("double")
        )
        / 2.0
    )


def rolling(src: Visible, n: "int | None", minp: int, agg):
    """Rolling (``n`` rows) or expanding (``n`` None) aggregate: NaN until
    the window holds ``minp`` observations. Cells are blanked to pandas-
    missing first, so window counts see NaN as missing — pandas' rule, the
    opposite of Spark's count() (r7 probe: min_periods over a NaN-bearing
    series diverged). ``count`` alone gates on the ROW count (a 3-row
    window with 2 NaNs still counts 1). ``median`` is exact: Spark forbids
    median()/percentile() with a window FRAME, so collect_list over the
    frame (bounded by the window size for rolling; the whole prefix for
    expanding), sort, midpoint — collect_list drops NULLs, which is
    exactly pandas' skipna."""
    lo = Window.unboundedPreceding if n is None else -(n - 1)
    w = src.window(lo)
    out = {}
    for k in src.cols:
        v = src.valid(k)
        if agg == "median":
            arr = F.sort_array(F.collect_list(v).over(w))
            out[k] = F.when(F.size(arr) >= minp, _midpoint(arr))
        else:
            gate = F.count(F.lit(1) if agg is F.count else v).over(w)
            out[k] = F.when(gate >= minp, agg(v).over(w))
    return src.internal, out


class Rolling:
    """``owner.rolling(n)`` and ``owner.expanding()`` (``window`` None) for
    a Series or a DataFrame owner: each agg is the :func:`rolling` rule."""

    def __init__(self, owner, window: "int | None", min_periods: "int | None" = None):
        self._owner = owner
        self._n = window
        # pandas default: a full window (rolling), one observation (expanding)
        self._minp = (window or 1) if min_periods is None else min_periods

    def _apply(self, agg):
        return self._owner._visible(rolling, self._n, self._minp, agg)

    def sum(self): return self._apply(F.sum)
    def mean(self): return self._apply(F.mean)
    def min(self): return self._apply(F.min)
    def max(self): return self._apply(F.max)
    def std(self): return self._apply(F.stddev_samp)
    def var(self): return self._apply(F.var_samp)
    def median(self): return self._apply("median")
    def count(self): return self._apply(F.count)


def ewm(src: Visible, params: dict, op: str):
    """Exponentially-weighted windows (``ewm(alpha=...).mean()`` etc.).

    EWM is inherently SEQUENTIAL — y_t depends on every prior value with
    exponentially decaying weight, and the ``adjust=True`` normalizer has
    no overflow-safe prefix-sum form (w^-p explodes past ~1e308 within a
    few thousand rows). So, like the engine's other inherently-sequential
    ops (MMR greedy, custom streaming state), it runs as ONE Arrow batch
    group via applyInPandas — every value column in one pass — delegating
    the recurrence to pandas itself: exact parity with every parameter
    combination by construction. The 100 TB shape is per-KEY ewm over a
    grouped frame (:class:`GroupedEwm`), where each group is bounded."""
    import pandas as pd

    from pontem_spark.core import limits

    sdf = src.sdf()
    # loud scale guard (r7 verdict #6, same pattern as Series.unique):
    # the recurrence funnels EVERY row through one Arrow group — fail
    # before a billion-row input materializes in one python worker, and
    # point at the per-key parallel shape.
    cap = limits.MAX_SINGLE_GROUP_ROWS
    if sdf.limit(cap + 1).count() > cap:
        raise ValueError(
            f"ewm(): more than {cap} rows; ewm over a Series or DataFrame is "
            "inherently sequential and runs as ONE Arrow group. Use "
            "df.groupby(key)[col].ewm(...) (GroupedEwm) — per-key groups run "
            "in parallel — or pre-aggregate to bounded input."
        )
    keys = list(src.cols)
    # the recurrence runs in the VISIBLE order (order_spec), not raw
    # index order — ewm after sort_values must accumulate in sorted
    # order like pandas (r10 composition probe class); (name, asc) pairs
    # are filtered together (ADVICE r10)
    spec = [
        (n, a)
        for n, a in (src.internal.order_spec or ((INDEX_COL, True),))
        if n in sdf.columns
    ] or [(INDEX_COL, True)]
    ord_names = [n for n, _ in spec]
    ord_asc = [a for _, a in spec]
    extras = [n for n in dict.fromkeys(ord_names) if n != INDEX_COL and n not in keys]

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ord_names, ascending=ord_asc)
        out = {INDEX_COL: pdf[INDEX_COL]}
        for k in keys:
            vals = pd.to_numeric(pdf[k], errors="coerce").astype("float64")
            out[k] = getattr(vals.ewm(**params), op)()
        for n in extras:
            out[n] = pdf[n]
        return pd.DataFrame(out)

    schema = ", ".join(
        [f"{INDEX_COL} {sdf.schema[INDEX_COL].dataType.simpleString()}"]
        + [f"`{k}` double" for k in keys]
        + [f"`{n}` {sdf.schema[n].dataType.simpleString()}" for n in extras]
    )
    res = (
        sdf.select(
            INDEX_COL,
            *[F.col(k).cast("double").alias(k) for k in keys],
            *[F.col(n) for n in extras],
        )
        .groupBy(F.lit(0).alias("__g"))
        .applyInPandas(fn, schema=schema)
    )
    # the extras pass through the Arrow fn so the display order (spec)
    # carries to the result
    internal = InternalFrame(
        res, INDEX_COL, src.internal.index_name, src.internal.order_spec
    )
    return internal, {k: res[k] for k in keys}


class Ewm:
    """``owner.ewm(...)`` for a Series or a DataFrame owner."""

    def __init__(self, owner, com, span, halflife, alpha, adjust, ignore_na, min_periods):
        self._owner = owner
        self._params = dict(
            com=com, span=span, halflife=halflife, alpha=alpha,
            adjust=adjust, ignore_na=ignore_na, min_periods=min_periods,
        )

    def _apply(self, op: str):
        return self._owner._visible(ewm, self._params, op)

    def mean(self): return self._apply("mean")
    def sum(self): return self._apply("sum")
    def std(self): return self._apply("std")
    def var(self): return self._apply("var")


# -- fixed-width time grids (resample / asfreq) ------------------------------

_UNITS = {"s": 1, "min": 60, "t": 60, "h": 3600, "d": 86400}
_MAX_GRID = 10_000_000


def _rule_seconds(rule: str, what: str) -> int:
    """Seconds in a fixed-width pandas offset alias (h/min/s/d) — calendar
    months need calendar arithmetic, use the operators module."""
    m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", rule.strip())
    unit = m.group(2).lower() if m else None
    if not m or unit not in _UNITS:
        raise ValueError(
            f"unsupported {what} rule {rule!r}; fixed-width units only "
            f"({sorted(_UNITS)})"
        )
    return int(m.group(1) or 1) * _UNITS[unit]


def _guarded_grid(n: Column, seq: Column, label: str, advice: str = "") -> Column:
    """``seq`` unless the grid has more than _MAX_GRID slots. Its size is
    time-range/freq, UNBOUNDED by the data (a 10-year span at '1s' is 315M
    rows), so the guard is raise_error INSIDE the plan — fully lazy; an
    empty input sequences to NULL → explode → zero rows."""
    return F.when(
        n > _MAX_GRID,
        F.raise_error(
            F.concat(
                F.lit(f"{label} has "),
                n.cast("string"),
                F.lit(
                    f" slots (time-range/freq) — past the "
                    f"{_MAX_GRID} guard. Coarsen the rule{advice}."
                ),
            )
        ),
    ).otherwise(seq)


def resample(src: Visible, sec: int, how: str, empty=None):
    """Fixed-interval resampling over a timestamp index: floor the index
    onto the bucket grid, one map-side-combinable aggregate per bucket,
    and the COMPLETE bucket grid like pandas (r9 probe: empty buckets
    gap-fill — NaN for the mean family, ``empty`` (0) for count/sum). The
    grid comes from one tiny min/max agg + a distributed sequence explode
    and a left join of the observed aggregates (compose
    operators/timeseries.py::gap_fill explicitly past the grid guard).
    ``how`` is a core/reductions.py entry; a column whose dtype it does
    not take raises TypeError, as pandas' resample does."""
    bad = {k: dt for k, dt in src.dts.items() if not reductions.eligible(how, dt)}
    if bad:
        raise TypeError(f"agg function failed [how->{how}]: columns {bad}")
    sdf = src.sdf()
    # pandas anchors the grid at MIDNIGHT OF THE FIRST DAY
    # (origin='start_day'), not the epoch — identical for any freq
    # dividing 86400 s, but '2d' or '7min' shift (r9 probe). The anchor
    # is a broadcast 1-row bounds frame (the engine's sanctioned
    # crossJoin shape for scalar stats).
    ts = F.col(INDEX_COL)
    bounds = sdf.agg(
        F.unix_timestamp(F.date_trunc("day", F.min(ts))).alias("__a"),
        F.unix_timestamp(F.min(ts)).alias("__mn"),
        F.unix_timestamp(F.max(ts)).alias("__mx"),
    )
    base = sdf.crossJoin(F.broadcast(bounds))
    off = F.unix_timestamp(ts) - F.col("__a")
    bucket = F.timestamp_seconds(F.col("__a") + off - F.pmod(off, F.lit(sec)))
    out = (
        base.select(bucket.alias("__b"), *src.cols)
        .groupBy("__b")
        .agg(
            *[
                reductions.column(how, F.col(k), src.dts[k], empty=False).alias(k)
                for k in src.cols
            ]
        )
    )
    omn = F.col("__mn") - F.col("__a")
    omx = F.col("__mx") - F.col("__a")
    lo_b = F.col("__a") + omn - F.pmod(omn, F.lit(sec))
    hi_b = F.col("__a") + omx - F.pmod(omx, F.lit(sec))
    n = ((hi_b - lo_b) / F.lit(sec)).cast("long") + 1
    seq = F.sequence(
        F.timestamp_seconds(lo_b),
        F.timestamp_seconds(hi_b),
        F.expr(f"INTERVAL {sec} SECONDS"),
    )
    grid = bounds.select(
        F.explode(
            _guarded_grid(
                n, seq, "resample: the bucket grid",
                " or compose operators/timeseries.py::gap_fill explicitly",
            )
        ).alias("__b")
    )
    filled = grid.join(out, "__b", "left")
    cols = {
        k: F.col(k) if empty is None else F.coalesce(F.col(k), F.lit(empty))
        for k in src.cols
    }
    return InternalFrame(filled, "__b", src.internal.index_name), cols


class Resampler:
    """``owner.resample(rule)`` for a Series or a DataFrame owner."""

    def __init__(self, owner, rule: str):
        self._owner = owner
        self._sec = _rule_seconds(rule, "resample")

    def _agg(self, how: str, empty=None):
        return self._owner._visible(resample, self._sec, how, empty)

    def mean(self): return self._agg("mean")
    def sum(self): return self._agg("sum", empty=0)
    def min(self): return self._agg("min")
    def max(self): return self._agg("max")
    def count(self): return self._agg("count", empty=0)


def asfreq(src: Visible, freq: str, method: "str | None", fill_value):
    """pandas asfreq over a timestamp index: the new index is the ``freq``
    grid anchored at the FIRST observation (asfreq anchors at index[0],
    unlike resample's start_day), values taken at EXACT grid timestamps.
    Unmatched grid points get NaN / ``fill_value``, or the positionally
    previous/next observation with method='ffill'/'bfill' (pandas reindex
    semantics: fill by POSITION — an observed NaN propagates; pre-existing
    NaN at a matched timestamp is never replaced by fill_value). When BOTH
    method and fill_value are given, method wins and fill_value is
    ignored — pinned against pandas 2.2 (asfreq does not raise; the
    in-range grid leaves method no gap for fill_value to touch).
    Duplicate index timestamps raise like pandas ('cannot reindex on an
    axis with duplicate labels') via the lazy in-plan guard.

    Plan shape: one broadcast 1-row bounds agg + a sequence-explode grid
    (size time-range/freq, same loud guard as resample) + an exact-match
    left join; ffill/bfill add one time-ordered window over grid+data
    carrying a struct of ALL value columns (a single time-ordered pass
    regardless of width — inherent to positional filling, same scale
    caveat as rank 'first')."""
    from pyspark.sql.types import TimestampType

    from pontem_spark.core.internal import guard_unique_labels

    sec = _rule_seconds(freq, "asfreq")
    if method not in (None, "ffill", "pad", "bfill", "backfill"):
        raise ValueError(f"asfreq: unsupported method {method!r}")
    sdf = src.sdf()
    if not isinstance(sdf.schema[INDEX_COL].dataType, TimestampType):
        raise TypeError("asfreq requires a timestamp index")
    # grid in MICROSECONDS: unix_timestamp truncates to whole seconds,
    # which made a sub-second-anchored index never exact-match the grid
    # (every value came back NaN — ADVICE r10); unix_micros keeps the
    # anchor's full precision so the grid lands on the observations
    step = sec * 1_000_000
    bounds = sdf.agg(
        F.unix_micros(F.min(F.col(INDEX_COL))).alias("__mn"),
        F.unix_micros(F.max(F.col(INDEX_COL))).alias("__mx"),
    )
    n = ((F.col("__mx") - F.col("__mn")) / F.lit(step)).cast("long") + 1
    seq = F.sequence(F.col("__mn"), F.col("__mx"), F.lit(step))
    grid = bounds.select(
        F.explode(_guarded_grid(n, seq, "asfreq: the grid")).alias("__gus")
    ).select(F.timestamp_micros(F.col("__gus")).alias("__g"))
    data = sdf.select(
        F.col(INDEX_COL).alias("__g"),
        F.struct(*[F.col(k).alias(k) for k in src.cols]).alias("__obs"),
    )
    if method is None:
        joined = grid.join(data, "__g", "left")
        cols = {}
        for k in src.cols:
            v = F.col("__obs").getField(k)
            if fill_value is not None:
                # fill only grid-introduced gaps — a matched row keeps its
                # value even when that value is missing (pandas contract)
                v = F.when(F.col("__obs").isNotNull(), v).otherwise(F.lit(fill_value))
            cols[k] = v
        out = joined.select(
            F.col("__g").alias(INDEX_COL), *[v.alias(k) for k, v in cols.items()]
        )
    else:
        # union data and grid rows on one timeline; at an equal timestamp
        # the DATA row sits on the fill side of the grid row so an exact
        # match always wins
        u = data.select("__g", "__obs", F.lit(1).alias("__src")).unionByName(
            grid.select(
                "__g", F.lit(None).cast(data.schema["__obs"].dataType).alias("__obs"),
                F.lit(0).alias("__src"),
            )
        )
        if method in ("ffill", "pad"):
            w = Window.orderBy(F.col("__g").asc(), F.col("__src").desc()).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            picked = F.last(F.col("__obs"), ignorenulls=True).over(w)
        else:
            w = Window.orderBy(F.col("__g").asc(), F.col("__src").asc()).rowsBetween(
                Window.currentRow, Window.unboundedFollowing
            )
            picked = F.first(F.col("__obs"), ignorenulls=True).over(w)
        out = (
            u.withColumn("__pick", picked)
            .filter(F.col("__src") == 0)
            .select(
                F.col("__g").alias(INDEX_COL),
                *[F.col("__pick").getField(k).alias(k) for k in src.cols],
            )
        )
    # duplicate index timestamps would silently fan out the grid join (and
    # make the window pick nondeterministic) — pandas raises
    out = guard_unique_labels(data, "__g", out, INDEX_COL)
    return (
        InternalFrame(out, INDEX_COL, src.internal.index_name),
        {k: out[k] for k in src.cols},
    )


# -- grouped windows: partitioned by the group keys ---------------------------


class GroupedRolling:
    """``df.groupby(k)[col].rolling(n)`` — rolling windows WITHIN each group.

    Unlike :class:`Rolling` (which orders globally — a
    single-partition window, fine for driver-scale series, wrong for big
    frames), this partitions by the group keys, so at scale it is one
    ordinary hash-partitioned window pass; NaN-key groups are omitted
    from the result entirely (pandas dropna), so the output index is the
    surviving subset of the parent's."""

    def __init__(self, df, keys: list[str], col: str, window: int):
        self._df = df
        self._keys = keys
        self._col = col
        self._n = window

    def _base(self):
        """Materialized frame with NaN-or-NULL-key rows DROPPED — pandas
        groupby().rolling()/expanding() omit NaN-key groups from the
        result entirely (unlike transform, which keeps the rows as NaN)."""
        from pontem_spark.core.groupby import _keys_valid_sdf

        base = self._df._materialized()
        return base.filter(_keys_valid_sdf(base, self._keys))

    def _valid_value(self, sdf):
        v = sdf[self._col]
        if dict(sdf.dtypes).get(self._col) in ("double", "float"):
            return F.when(~F.isnan(v), v)
        return v

    def _win(self, sdf, lo):
        # _materialized() travels the index under INDEX_COL; within-group
        # row order = the frame's VISIBLE order (r10 composition probe)
        spec = self._df._internal.order_spec or ((INDEX_COL, True),)
        return (
            Window.partitionBy(*self._keys)
            .orderBy(*[F.col(n).asc() if asc else F.col(n).desc() for n, asc in spec])
            .rowsBetween(lo, Window.currentRow)
        )

    def _apply(self, aggfn):
        from pontem_spark.core.series import Series

        sdf = self._base()
        v = self._valid_value(sdf)
        w = self._win(sdf, -(self._n - 1))
        cnt = F.count(v).over(w)
        # pandas yields NaN until the window holds `window` observations
        col = F.when(cnt >= self._n, aggfn(v).over(w))
        internal = InternalFrame(sdf, INDEX_COL, self._df._internal.index_name)
        return Series._from_internal(internal, col, self._col)

    def sum(self): return self._apply(F.sum)
    def mean(self): return self._apply(F.mean)
    def min(self): return self._apply(F.min)
    def max(self): return self._apply(F.max)
    def std(self): return self._apply(F.stddev_samp)
    def var(self): return self._apply(F.var_samp)

    def median(self):
        """Exact grouped rolling median — the collect_list midpoint form
        (see :func:`rolling`), partitioned by the group keys."""
        from pontem_spark.core.series import Series

        sdf = self._base()
        w = self._win(sdf, -(self._n - 1))
        arr = F.sort_array(F.collect_list(self._valid_value(sdf)).over(w))
        col = F.when(F.size(arr) >= self._n, _midpoint(arr))
        internal = InternalFrame(sdf, INDEX_COL, self._df._internal.index_name)
        return Series._from_internal(internal, col, self._col)

    def count(self):
        """Gates on the ROW count reaching the window size, not the
        non-missing count — the :func:`rolling` count asymmetry, grouped."""
        from pontem_spark.core.series import Series

        sdf = self._base()
        v = self._valid_value(sdf)
        w = self._win(sdf, -(self._n - 1))
        rows = F.count(F.lit(1)).over(w)
        col = F.when(rows >= self._n, F.count(v).over(w))
        internal = InternalFrame(sdf, INDEX_COL, self._df._internal.index_name)
        return Series._from_internal(internal, col, self._col)


class GroupedEwm:
    """``df.groupby(k)[col].ewm(...)`` — per-KEY exponentially-weighted
    windows: the 100 TB shape of :class:`Ewm` (whose single Arrow group is
    Series/driver-scale by design). Each group is one Arrow batch via
    applyInPandas — groups run in parallel across executors, the recurrence
    inside a group is inherently sequential; pandas computes it, so every
    parameter combination is exact. Result rows are (index, value) per
    original row, ordered by index within each group."""

    def __init__(self, df, keys: list[str], col: str, params: dict):
        self._df = df
        self._keys = keys
        self._col = col
        self._params = dict(params)

    def _apply(self, op: str):
        import pandas as pd

        from pontem_spark.core.series import Series

        df = self._df
        key_aliases = [f"__k{i}" for i in range(len(self._keys))]
        # within-group row order = the frame's VISIBLE order (r10
        # composition probe); spec helper columns ride through the
        # projection so the Arrow fn can sort by them
        spec = df._internal.order_spec or ((INDEX_COL, True),)
        extras = [
            n for n in dict.fromkeys(n for n, _ in spec)
            if n != INDEX_COL and n in df._internal.sdf.columns
        ]
        # filter (name, asc) PAIRS together — filtering names and flags
        # separately shifted each surviving column onto the PRECEDING
        # column's direction whenever a spec column was dropped, reversing
        # the ewm recurrence order (ADVICE r10)
        pairs = [(n, a) for n, a in spec if n == INDEX_COL or n in extras]
        sort_names = [n for n, _ in pairs]
        sort_asc = [a for _, a in pairs]
        sdf = df._internal.sdf.select(
            df._internal.index_col.alias(INDEX_COL),
            *[df._columns[k].alias(a) for k, a in zip(self._keys, key_aliases)],
            df._columns[self._col].cast("double").alias("__v"),
            *[F.col(n) for n in extras],
        )
        from pontem_spark.core.groupby import _keys_valid_sdf

        # pandas omits NaN-key groups from the result entirely
        sdf = sdf.filter(_keys_valid_sdf(sdf, key_aliases))
        idx_type = sdf.schema[INDEX_COL].dataType.simpleString()
        if idx_type.startswith("struct"):
            raise ValueError(
                "GroupedEwm over a MultiIndex frame: reset_index() first"
            )
        params = self._params

        def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
            pdf = pdf.sort_values(sort_names or [INDEX_COL],
                                  ascending=sort_asc or True)
            out = getattr(pdf["__v"].ewm(**params), op)()
            return pd.DataFrame({INDEX_COL: pdf[INDEX_COL], "__value__": out})

        res = sdf.groupBy(*key_aliases).applyInPandas(
            fn, schema=f"{INDEX_COL} {idx_type}, __value__ double"
        )
        return Series._from_internal(
            InternalFrame(res, INDEX_COL, df._internal.index_name),
            res["__value__"],
            self._col,
        )

    def mean(self): return self._apply("mean")
    def sum(self): return self._apply("sum")
    def std(self): return self._apply("std")
    def var(self): return self._apply("var")


class GroupedExpanding:
    """``df.groupby(k)[col].expanding()`` — running windows WITHIN each
    group: one hash-partitioned window pass (unboundedPreceding →
    currentRow); NaN-key groups are omitted like GroupedRolling, and NaN
    is blanked to NULL first so window counts follow pandas' missing
    rule."""

    def __init__(self, df, keys: list[str], col: str, min_periods: int = 1):
        self._df = df
        self._keys = keys
        self._col = col
        self._minp = min_periods

    def _apply(self, aggfn):
        from pontem_spark.core.groupby import _keys_valid_sdf
        from pontem_spark.core.series import Series

        df = self._df
        base = df._materialized()
        # pandas omits NaN-key groups from the result entirely
        sdf = base.filter(_keys_valid_sdf(base, self._keys))
        expr = sdf[self._col]
        if dict(sdf.dtypes).get(self._col) in ("double", "float"):
            expr = F.when(~F.isnan(expr), expr)
        spec = df._internal.order_spec or ((INDEX_COL, True),)
        w = (
            Window.partitionBy(*self._keys)
            .orderBy(*[F.col(n).asc() if asc else F.col(n).desc() for n, asc in spec])
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cnt = F.count(expr).over(w)
        col = F.when(cnt >= self._minp, aggfn(expr).over(w))
        internal = InternalFrame(
            sdf, INDEX_COL, df._internal.index_name, df._internal.order_spec
        )
        return Series._from_internal(internal, col, self._col)

    def sum(self): return self._apply(F.sum)
    def mean(self): return self._apply(F.mean)
    def min(self): return self._apply(F.min)
    def max(self): return self._apply(F.max)
    def std(self): return self._apply(F.stddev_samp)
    def var(self): return self._apply(F.var_samp)
    def count(self): return self._apply(F.count)
