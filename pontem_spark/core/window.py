"""Visible-order transforms, written once for Series, DataFrame and the
grouped Series.

shift, diff, pct_change, the cumulative ops, ffill/bfill, interpolate,
rolling/expanding, ewm, rank, the idx-extreme, resample and asfreq are
each ONE rule over a dict of value columns on an ``InternalFrame``: a
Series passes its one value column, a DataFrame all of its columns under
one shared window spec (Catalyst plans one sort for the whole frame).
:class:`Visible` stages the columns — on their own anchor when they are
window-free, else across one materialization — with the group key
columns of ``df.groupby(k)[col]`` as its partition (none for a Series or
a DataFrame), and every rule returns ``(internal, {name: column})``.
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
    decision under Series, DataFrame and the grouped Series.

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
    chains like ``s.diff().diff()``.

    ``keys`` (name → column) partition every window: the group keys of
    a grouped Series, empty otherwise. ``dropna_keys`` leaves out the
    rows whose key is missing (pandas' groupby rolling/expanding/ewm
    and idxmax); the row-aligned grouped ops keep them and blank their
    result with :attr:`keys_valid`."""

    def __init__(
        self,
        internal: InternalFrame,
        cols: "dict[str, Column]",
        keys: "dict[str, Column] | None" = None,
        dropna_keys: bool = False,
    ):
        cols, keys = dict(cols), dict(keys or {})
        self.materialized = not all(
            _window_free(c) for c in (*cols.values(), *keys.values())
        )
        if self.materialized:
            sdf = internal.materialize({**cols, **keys})
            internal = InternalFrame(
                sdf,
                INDEX_COL,
                internal.index_name,
                internal.order_spec,
                row_tokens=internal.row_tokens,
            )
            cols = {k: sdf[k] for k in cols}
            keys = {k: sdf[k] for k in keys}
        self.internal, self.cols, self.keys = internal, cols, keys
        if dropna_keys and keys:
            self.internal = InternalFrame(
                internal.sdf.filter(self.keys_valid),
                internal.index_spark_col,
                internal.index_name,
                internal.order_spec,
            )

    @functools.cached_property
    def dts(self) -> "dict[str, str | None]":
        return dict(zip(self.cols, dtypes(self.internal.sdf, *self.cols.values())))

    @functools.cached_property
    def keys_valid(self) -> Column:
        """TRUE where no group key is missing (pandas' dropna=True)."""
        cond = F.lit(True)
        keys = list(self.keys.values())
        for c, dt in zip(keys, dtypes(self.internal.sdf, *keys)):
            cond = cond & ~missing(c, dt)
        return cond

    def missing(self, k: str) -> Column:
        return missing(self.cols[k], self.dts[k])

    def valid(self, k: str) -> Column:
        """The cell blanked to NULL where pandas sees it missing (NULL or
        float NaN), so window counts and aggregates skip it like pandas."""
        return F.when(~self.missing(k), self.cols[k])

    @property
    def order(self) -> "list[Column]":
        """The visible order: the order spec (a sorted frame shifts in
        sorted order like pandas), else the index."""
        return self.internal.order_columns(self.internal.index_spark_col)

    def over(self, *order: Column):
        """A window partitioned by the keys (one partition without them:
        driver-scale by construction), ordered by ``order``."""
        w = Window.partitionBy(*self.keys.values())
        return w.orderBy(*order) if order else w

    def window(self, lo=None, hi=Window.currentRow):
        """The visible-order window, framed ``rowsBetween(lo, hi)`` when
        ``lo`` is given."""
        w = self.over(*self.order)
        return w if lo is None else w.rowsBetween(lo, hi)

    def sdf(self):
        """The materialized projection: index as INDEX_COL, the values
        and keys under their names, the order-spec helpers."""
        if self.materialized:
            return self.internal.sdf
        return self.internal.materialize({**self.cols, **self.keys})


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
    window with 2 NaNs still counts 1) and is float64 like pandas'.
    ``median`` is exact: Spark forbids median()/percentile() with a
    window FRAME, so collect_list over the frame (bounded by the window
    size for rolling; the whole prefix for expanding), sort, midpoint —
    collect_list drops NULLs, which is exactly pandas' skipna."""
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
            r = agg(v).over(w)
            out[k] = F.when(gate >= minp, r.cast("double") if agg is F.count else r)
    return src.internal, out


class Rolling:
    """``owner.rolling(n)`` and ``owner.expanding()`` (``window`` None) for
    a Series, DataFrame or grouped-Series owner: each agg is the
    :func:`rolling` rule."""

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
    grouped Series: one Arrow group per key (the Visible's keys), each
    bounded, all in parallel."""
    import pandas as pd

    from pontem_spark.core import limits

    sdf = src.sdf()
    # loud scale guard (r7 verdict #6, same pattern as Series.unique):
    # without keys the recurrence funnels EVERY row through one Arrow
    # group — fail before a billion-row input materializes in one python
    # worker, and point at the per-key parallel shape.
    cap = limits.MAX_SINGLE_GROUP_ROWS
    if not src.keys and sdf.limit(cap + 1).count() > cap:
        raise ValueError(
            f"ewm(): more than {cap} rows; ewm over a Series or DataFrame is "
            "inherently sequential and runs as ONE Arrow group. Use "
            "df.groupby(key)[col].ewm(...) — per-key groups run "
            "in parallel — or pre-aggregate to bounded input."
        )
    names = list(src.cols)
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
    extras = [
        n for n in dict.fromkeys(ord_names)
        if n != INDEX_COL and n not in names and n not in src.keys
    ]

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(ord_names, ascending=ord_asc)
        out = {INDEX_COL: pdf[INDEX_COL]}
        for k in names:
            vals = pd.to_numeric(pdf[k], errors="coerce").astype("float64")
            out[k] = getattr(vals.ewm(**params), op)()
        for n in extras:
            out[n] = pdf[n]
        return pd.DataFrame(out)

    schema = ", ".join(
        [f"{INDEX_COL} {sdf.schema[INDEX_COL].dataType.simpleString()}"]
        + [f"`{k}` double" for k in names]
        + [f"`{n}` {sdf.schema[n].dataType.simpleString()}" for n in extras]
    )
    res = (
        sdf.select(
            INDEX_COL,
            *src.keys,
            *[F.col(k).cast("double").alias(k) for k in names],
            *[F.col(n) for n in extras],
        )
        .groupBy(*src.keys or [F.lit(0).alias("__g")])
        .applyInPandas(fn, schema=schema)
    )
    # the extras pass through the Arrow fn so the display order (spec)
    # carries to the result
    internal = InternalFrame(
        res, INDEX_COL, src.internal.index_name, src.internal.order_spec
    )
    return internal, {k: res[k] for k in names}


class Ewm:
    """``owner.ewm(...)`` for a Series, DataFrame or grouped-Series owner
    (pandas' defaults)."""

    def __init__(
        self, owner, com=None, span=None, halflife=None, alpha=None,
        adjust=True, ignore_na=False, min_periods=0,
    ):
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


def rank(src: Visible, method: str, ascending: bool, pct: bool, na_option: str):
    """pandas rank of every value column, within each group of the keys
    (over the whole column without them): one window sort per column,
    all on one partitioning — no join back, no distinct-value frame.

    - 'min' is ``rank()``; 'max' counts the rows of the ordered window's
      default RANGE frame, which takes in the value's ties; 'average' is
      their midpoint; 'dense' is ``dense_rank()``; 'first' is
      ``row_number()`` with ties in the visible order (pandas' position).
    - ``na_option``: the missing block sorts first for 'top' and last
      otherwise, so it ranks as one tie group of its own; 'keep' blanks
      it. The result is float64 like pandas'.
    - ``pct`` divides by the rows ranked ('keep': the valid rows);
      'dense' by its bucket count — distinct window aggregates are
      unsupported, so the two-direction identity dense_rank + reverse
      dense_rank − 1 counts them on every row ('keep' pins the missing
      bucket last both ways so it does not count)."""
    if method not in ("average", "min", "max", "dense", "first"):
        raise ValueError(
            f"rank method {method!r} (use 'average', 'min', 'max', 'dense', or 'first')"
        )
    if na_option not in ("keep", "top", "bottom"):
        raise ValueError(
            f"rank: na_option must be 'keep', 'top' or 'bottom', got {na_option!r}"
        )
    out = {}
    for k in src.cols:
        present, val = ~src.missing(k), src.valid(k)
        lead = present.asc() if na_option == "top" else present.desc()
        order = [lead, val.asc() if ascending else val.desc()]
        w = src.over(*order)
        if method == "first":
            r = F.row_number().over(src.over(*order, *src.order))
        elif method == "dense":
            r = F.dense_rank().over(w)
        else:
            lo, hi = F.rank().over(w), F.count(F.lit(1)).over(w)
            r = {"min": lo, "max": hi, "average": (lo + hi) / 2.0}[method]
        r = r.cast("double")
        if pct:
            if method == "dense":
                back = present.asc() if na_option == "bottom" else present.desc()
                rev = src.over(back, val.desc() if ascending else val.asc())
                r = r / (F.dense_rank().over(w) + F.dense_rank().over(rev) - 1)
            else:
                ranked = val if na_option == "keep" else F.lit(1)
                r = r / F.count(ranked).over(src.over())
        out[k] = F.when(present, r) if na_option == "keep" else r
    return src.internal, out


def idx_extreme(src: Visible, descending: bool):
    """pandas idxmax (``descending``) and idxmin of every value column,
    within each group of the keys (over the whole column without them):
    the label of the first extreme valid value, ties to the earlier row in
    the visible order. One window per column on one partitioning, then one
    aggregate: a Spark frame of one row per group (one row without keys)
    holding the keys and, per column, the struct ``(label)`` — NULL where
    the column has no valid value (a NULL label stays a found label)."""
    # staged on the named projection, so the window partitions by the very
    # key columns the aggregate groups by: one Exchange, not two
    sdf = src.sdf()
    src = Visible(
        InternalFrame(sdf, INDEX_COL, src.internal.index_name, src.internal.order_spec),
        {k: sdf[k] for k in src.cols},
        {n: sdf[n] for n in src.keys},
    )
    hits = {}
    for k in src.cols:
        v = src.valid(k)
        w = src.over(v.desc_nulls_last() if descending else v.asc_nulls_last(), *src.order)
        hit = (F.row_number().over(w) == 1) & v.isNotNull()
        hits[k] = F.when(hit, F.struct(sdf[INDEX_COL].alias("label")))
    return (
        sdf.select(*src.keys.values(), *[h.alias(k) for k, h in hits.items()])
        .groupBy(*src.keys)
        .agg(*[F.first(k, ignorenulls=True).alias(k) for k in src.cols])
    )


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
