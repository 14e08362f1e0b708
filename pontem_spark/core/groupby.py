"""groupby().agg() — absent in the reference (SURVEY §2.G: 'group-by
aggregation: ∅'); one Spark groupBy/agg pass per call, partial aggregation
and AQE coalescing come free from Catalyst."""

from __future__ import annotations

import functools
from typing import Mapping

from pyspark.sql import Column, functions as F

from pontem_spark.core import reductions, window as win
from pontem_spark.core.cells import valid
from pontem_spark.core.internal import INDEX_COL, InternalFrame

def _valid(df, *cols: str) -> "list[Column]":
    """The columns blanked to pandas-valid (``cells.valid``)."""
    dts = df._dtype_map()
    return [valid(df._columns[c], dts[c]) for c in cols]


def _keys_valid_sdf(sdf, keys: list[str]):
    """:func:`_keys_valid` over a MATERIALIZED Spark frame (plain column
    names) for operators that window/filter the sdf directly."""
    types = dict(sdf.dtypes)
    cond = F.lit(True)
    for k in keys:
        c = F.col(k)
        cond = cond & c.isNotNull()
        if types.get(k) in ("double", "float"):
            cond = cond & ~F.isnan(c)
    return cond


def _keys_valid(df, keys: list[str]):
    """TRUE when every group key is non-missing — pandas' dropna=True
    (the default) excludes a group whose key tuple contains ANY missing
    level from aggregates, and returns missing for those rows in every
    row-aligned grouped op (transform/shift/rank/cumcount — r7 probe)."""
    cond = F.lit(True)
    for v in _valid(df, *keys):
        cond = cond & v.isNotNull()
    return cond


def _transform(df, keys: list[str], col: str, how: str) -> Column:
    """Reduction ``how`` of ``col`` over its group on every row — the
    core/reductions.py entry over one window partitioned by the keys;
    rows with a missing key get NULL. first/last read the group along its
    visible order, the window framed over the whole group."""
    from pyspark.sql import Window

    internal = df._internal
    w = Window.partitionBy(*[df._columns[k] for k in keys])
    if how in ("first", "last"):
        w = w.orderBy(*internal.order_columns(internal.index_spark_col)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    over = reductions.column(how, df._columns[col], df._dtype_map()[col], over=w)
    return F.when(_keys_valid(df, keys), over)


class GroupBy:
    def __init__(
        self,
        df,
        keys: list[str],
        as_index: bool = True,
        hidden: "tuple[str, ...]" = (),
    ):
        # ``hidden``: keys that name INDEX LEVELS, not frame columns —
        # DataFrame.groupby exposes them as shadow columns so every
        # grouped op can treat them uniformly, but row-aligned outputs
        # (transform/filter/head) must not leak them as user columns
        # (r11 probe: set_index(['a','b']).groupby('a') raised KeyError)
        self._df = df
        self._keys = keys
        self._as_index = as_index
        self._hidden = set(hidden)

    def _user_columns(self) -> "list[str]":
        return [c for c in self._df._columns if c not in self._hidden]

    def agg(self, spec: Mapping[str, str | list[str]]) -> "DataFrame":
        """{'col': 'sum'} or {'col': ['sum', 'mean']} → one aggregation pass
        of core/reductions.py entries (first/last follow the visible
        order: the index, or each row's position in its group under an
        order spec)."""
        dts = self._df._dtype_map()
        internal = self._df._internal
        hows = {
            (col, h): col if isinstance(how, str) else f"{col}_{h}"
            for col, how in spec.items()
            for h in ([how] if isinstance(how, str) else how)
        }
        sdf, order = internal.sdf, internal.index_col
        if internal.order_spec and any(h in ("first", "last") for _, h in hows):
            sdf = sdf.withColumn("__pos__", self.cumcount()._col)
            order = sdf["__pos__"]
        exprs = {
            out: reductions.column(h, self._df._columns[col], dts[col], order=order)
            for (col, h), out in hows.items()
        }
        return self._aggregate(exprs, self._as_index, sdf)

    def _aggregate(
        self, exprs: "dict[str, Column]", as_index: bool, sdf=None
    ) -> "DataFrame":
        """One ``groupBy(keys).agg`` of ``exprs`` over the rows with valid
        keys (of the anchor, or ``sdf`` derived from it), keyed by the
        group index (``as_index``) or by a fresh one."""
        from pontem_spark.core.frame import DataFrame

        base = (
            (self._df._internal.sdf if sdf is None else sdf)
            .filter(_keys_valid(self._df, self._keys))
            .groupBy(*[self._df._columns[k].alias(k) for k in self._keys])
            .agg(*[e.alias(n) for n, e in exprs.items()])
        )
        if as_index and len(self._keys) == 1:
            internal = InternalFrame(base, self._keys[0], self._keys[0])
            return DataFrame._from_internal(internal, {c: base[c] for c in exprs})
        if as_index:
            # multi-key → struct-backed MultiIndex, the same representation
            # set_index(list) builds (frame.py): struct ordering is
            # lexicographic by field = MultiIndex sort order, and
            # to_pandas/reset_index already translate it back
            sdf = base.withColumn("__midx__", F.struct(*[F.col(k) for k in self._keys]))
            internal = InternalFrame(sdf, "__midx__", tuple(self._keys))
            return DataFrame._from_internal(internal, {c: sdf[c] for c in exprs})
        sdf = base.withColumn(INDEX_COL, F.monotonically_increasing_id())
        internal = InternalFrame(sdf, INDEX_COL, None)
        return DataFrame._from_internal(
            internal, {c: sdf[c] for c in self._keys + list(exprs)}
        )

    def _all_numeric(self, how: str) -> "DataFrame":
        dts = self._df._dtype_map()
        cols = [c for c in self._df.columns if c not in self._keys]
        return self.agg({c: how for c in cols if reductions.eligible(how, dts[c])})

    def sum(self): return self._all_numeric("sum")
    def mean(self): return self._all_numeric("mean")
    def min(self): return self._all_numeric("min")
    def max(self): return self._all_numeric("max")
    def count(self): return self._all_numeric("count")
    def std(self): return self._all_numeric("std")
    def median(self): return self._all_numeric("median")
    def var(self): return self._all_numeric("var")
    def prod(self): return self._all_numeric("prod")
    def sem(self): return self._all_numeric("sem")
    def skew(self): return self._all_numeric("skew")
    def kurt(self): return self._all_numeric("kurt")

    def ngroup(self):
        """0-based group number in GROUP SORT ORDER (pandas sort=True).

        Scale shape: the dense numbering is a window over the DISTINCT key
        set (|groups| rows, never the data), broadcast-joined back — no
        global sort of the rows. Rows whose every key is NULL get NULL
        (pandas dropna=True gives them NaN)."""
        from pyspark.sql import Window

        from pontem_spark.core.series import Series

        df = self._df
        sdf = df._internal.sdf
        idx = F.col(df._internal.index_spark_col)
        knames = [f"__k{i}__" for i in range(len(self._keys))]
        keyed = sdf.select(
            idx.alias("__gidx__"),
            # _valid so a float-NaN key becomes NULL and the equi-join
            # below misses (Spark joins treat NaN = NaN as TRUE)
            *[v.alias(n) for v, n in zip(_valid(df, *self._keys), knames)],
        )
        groups = keyed.select(*knames).distinct().na.drop(how="any")
        w = Window.orderBy(*[F.col(k).asc() for k in knames])
        numbered = groups.withColumn(
            "__ng__", (F.row_number().over(w) - 1).cast("long")
        )
        joined = keyed.join(F.broadcast(numbered), on=knames, how="left")
        internal = InternalFrame(
            joined.withColumnRenamed("__gidx__", df._internal.index_spark_col),
            df._internal.index_spark_col,
            df._internal.index_name,
        )
        return Series._from_internal(internal, F.col("__ng__"), None)

    def describe(self):
        """pandas describe of every numeric column in ONE aggregation
        pass; columns flattened to ``{col}_{stat}`` (this build has no
        MultiIndex columns)."""
        dts = self._df._dtype_map()
        cols = [c for c in self._df.columns if c not in self._keys]
        return self._aggregate(
            {
                f"{c}_{stat}": e
                for c in cols
                if reductions.eligible("describe", dts[c])
                for stat, e in reductions.describe(self._df._columns[c], dts[c])
            },
            True,
        )

    def size(self):
        """Group sizes as a Series (counts rows incl. nulls, like pandas);
        multiple keys yield a MultiIndexed Series."""
        from pontem_spark.core.series import Series

        base = (
            self._df._internal.sdf.filter(_keys_valid(self._df, self._keys))
            .groupBy(*[self._df._columns[k].alias(k) for k in self._keys])
            .agg(F.count(F.lit(1)).alias("__value__"))
        )
        if len(self._keys) == 1:
            internal = InternalFrame(base, self._keys[0], self._keys[0])
            return Series._from_internal(internal, base["__value__"], None)
        sdf = base.withColumn("__midx__", F.struct(*[F.col(k) for k in self._keys]))
        internal = InternalFrame(sdf, "__midx__", tuple(self._keys))
        return Series._from_internal(internal, sdf["__value__"], None)

    def __getitem__(self, col: str) -> "SeriesGroupBy":
        if col not in self._df._columns:
            raise KeyError(col)
        return SeriesGroupBy(self._df, self._keys, col)

    def cumcount(self):
        """0-based position of each row within its group, original index
        preserved — one partitioned window, no shuffle beyond the group
        keys (r7 probe)."""
        from pyspark.sql import Window

        from pontem_spark.core.series import Series

        idx_name = self._df._internal.index_spark_col
        spec = self._df._internal.order_spec or ((idx_name, True),)
        order = [F.col(n).asc() if asc else F.col(n).desc() for n, asc in spec]
        w = Window.partitionBy(
            *[self._df._columns[k] for k in self._keys]
        ).orderBy(*order)
        col = F.when(
            _keys_valid(self._df, self._keys),
            (F.row_number().over(w) - 1).cast("long"),
        )
        return Series._from_internal(self._df._internal, col, None)

    def _positional(self, pred) -> "DataFrame":
        """Filter rows by a predicate over their within-group positions
        (1-based from the front, and from the back for tail/negative nth)."""
        from pyspark.sql import Window

        from pontem_spark.core.frame import DataFrame

        idx = INDEX_COL  # _materialized() travels the index under INDEX_COL
        sdf = self._df._materialized()
        spec = self._df._internal.order_spec or ((idx, True),)
        fwd = Window.partitionBy(*self._keys).orderBy(
            *[F.col(n).asc() if asc else F.col(n).desc() for n, asc in spec]
        )
        bwd = Window.partitionBy(*self._keys).orderBy(
            *[F.col(n).desc() if asc else F.col(n).asc() for n, asc in spec]
        )
        out = (
            sdf.filter(_keys_valid_sdf(sdf, self._keys))
            .withColumn("__rn", F.row_number().over(fwd))
            .withColumn("__rb", F.row_number().over(bwd))
            .filter(pred(F.col("__rn"), F.col("__rb")))
            .drop("__rn", "__rb")
        )
        internal = InternalFrame(
            out, idx, self._df._internal.index_name, self._df._internal.order_spec
        )
        return DataFrame._from_internal(
            internal, {c: out[c] for c in self._user_columns()}
        )

    def head(self, n: int = 5) -> "DataFrame":
        return self._positional(lambda rn, rb: rn <= n)

    def tail(self, n: int = 5) -> "DataFrame":
        return self._positional(lambda rn, rb: rb <= n)

    def nth(self, n: int) -> "DataFrame":
        if n >= 0:
            return self._positional(lambda rn, rb: rn == n + 1)
        return self._positional(lambda rn, rb: rb == -n)

    def filter(self, func) -> "DataFrame":
        """pandas groupby().filter: keep the rows of groups where ``func``
        (a Python callable over the group's pandas sub-frame) is truthy.

        The callable forces Python execution by definition, so this is an
        Arrow applyInPandas emitting one keep/drop row PER GROUP (never per
        row), then a broadcast semi-join — the Python boundary sees each
        group once, the data rows never leave the JVM. For aggregate
        predicates (count/sum thresholds) prefer ``transform`` + a mask:
        pure Catalyst, no Python at all."""
        from pontem_spark.core.frame import DataFrame

        idx = INDEX_COL  # _materialized() travels the index under INDEX_COL
        sdf = self._df._materialized()
        keys = self._keys
        schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in sdf.schema.fields
            if f.name in keys
        )
        user_cols = self._user_columns()

        def _keep(pdf):
            sub = pdf[user_cols]
            return pdf[keys].head(1) if func(sub) else pdf[keys].head(0)

        sdf = sdf.filter(_keys_valid_sdf(sdf, keys))
        kept = sdf.groupBy(*keys).applyInPandas(_keep, schema)
        out = sdf.join(F.broadcast(kept), on=keys, how="left_semi")
        internal = InternalFrame(
            out, idx, self._df._internal.index_name, self._df._internal.order_spec
        )
        return DataFrame._from_internal(
            internal, {c: out[c] for c in self._user_columns()}
        )

    def transform(self, spec: Mapping[str, str]) -> "DataFrame":
        """pandas groupby().transform: per-group statistics broadcast back to
        EVERY row, index preserved. One unordered window per distinct key
        set — a single shuffle on the group key, no join-back; the result
        shares this frame's anchor, so assigning it to a column stays one
        growing Catalyst plan (zero extra jobs)."""
        from pontem_spark.core.frame import DataFrame

        cols = {c: self._df._columns[c] for c in self._user_columns()}
        for col, how in spec.items():
            cols[col] = _transform(self._df, self._keys, col, how)
        return DataFrame._from_internal(self._df._internal, cols)

    def apply_in_pandas(self, func, schema):
        """Escape hatch for genuinely custom grouped logic: Arrow-batched
        applyInPandas (grouped-map pandas UDF). Use only when built-in
        aggregates can't express the semantics."""
        from pontem_spark.core.frame import DataFrame

        grouped = self._df._materialized().groupBy(*self._keys)
        sdf = grouped.applyInPandas(func, schema)
        out = sdf.withColumn(INDEX_COL, F.monotonically_increasing_id())
        internal = InternalFrame(out, INDEX_COL, None)
        return DataFrame._from_internal(
            internal, {c: out[c] for c in sdf.columns}
        )


class SeriesGroupBy:
    """``df.groupby(k)['col']`` — single-column grouped view.

    ``transform`` keeps the parent anchor (window expression, no join);
    ``agg``/named reductions delegate to the frame-level GroupBy; the
    ordered ops are the core/window.py rules with the group keys as the
    :class:`~pontem_spark.core.window.Visible` partition."""

    def __init__(self, df, keys: list[str], col: str):
        self._df = df
        self._keys = keys
        self._col = col

    def transform(self, how: str):
        from pontem_spark.core.series import Series

        col = _transform(self._df, self._keys, self._col, how)
        return Series._from_internal(self._df._internal, col, self._col)

    def agg(self, how):
        """Single reduction per group → a Series keyed by the group index
        (pandas shape for df.groupby(k)[col].mean()); a LIST of hows → a
        DataFrame with one column per statistic, named after the
        statistic like pandas (r7 probe) — still one aggregation pass."""
        if isinstance(how, (list, tuple)):
            frame = GroupBy(self._df, self._keys).agg({self._col: list(how)})
            return frame.rename(columns={f"{self._col}_{h}": h for h in how})
        frame = GroupBy(self._df, self._keys).agg({self._col: how})
        return frame[self._col]

    # ordered per-group ops: the core/window.py rules partitioned by the
    # keys — a single shuffle on the keys; a row-aligned result shares the
    # parent anchor (assigning back stays one growing plan)

    def _source(self, dropna_keys: bool) -> "win.Visible":
        df = self._df
        keys = {f"__key{i}__": df._columns[k] for i, k in enumerate(self._keys)}
        return win.Visible(
            df._internal, {self._col: df._columns[self._col]}, keys, dropna_keys
        )

    @functools.cached_property
    def _rows(self) -> "win.Visible":
        """Every row: the row-aligned ops blank a missing key's rows."""
        return self._source(False)

    @functools.cached_property
    def _kept(self) -> "win.Visible":
        """The rows of valid keys: pandas leaves the others out of
        rolling/expanding/ewm and idxmax/idxmin."""
        return self._source(True)

    def _visible(self, rule, *args):
        from pontem_spark.core.series import Series

        src = self._kept if rule in (win.rolling, win.ewm) else self._rows
        internal, cols = rule(src, *args)
        col = cols[self._col]
        if src is self._rows:
            col = F.when(src.keys_valid, col)
        return Series._from_internal(internal, col, self._col)

    def shift(self, periods: int = 1, fill_value=None):
        return self._visible(win.shift, periods, fill_value)

    def diff(self, periods: int = 1):
        return self._visible(win.diff, periods)

    def pct_change(self, periods: int = 1):
        """pandas 2.x: missing values pad forward within the group."""
        return self._visible(win.pct_change, periods, "pad")

    def cumsum(self): return self._visible(win.cum, F.sum)
    def cummax(self): return self._visible(win.cum, F.max)
    def cummin(self): return self._visible(win.cum, F.min)

    def cumcount(self):
        return GroupBy(self._df, self._keys).cumcount()

    def rank(self, method: str = "average", ascending: bool = True, pct: bool = False):
        return self._visible(win.rank, method, ascending, pct, "keep")

    def _extreme_labels(self, descending: bool):
        """Each group's idx-extreme label (core/window.py); an all-missing
        group keeps its row with a NULL label — the pandas 2.x shape."""
        from pontem_spark.core.series import Series

        src = self._kept
        picked = win.idx_extreme(src, descending).select(
            *[F.col(p).alias(k) for p, k in zip(src.keys, self._keys)],
            F.col(self._col).getField("label").alias("__value__"),
        )
        if len(self._keys) == 1:
            internal = InternalFrame(picked, self._keys[0], self._keys[0])
            return Series._from_internal(internal, picked["__value__"], self._col)
        out = picked.withColumn("__midx__", F.struct(*[F.col(k) for k in self._keys]))
        internal = InternalFrame(out, "__midx__", tuple(self._keys))
        return Series._from_internal(internal, out["__value__"], self._col)

    def idxmax(self):
        return self._extreme_labels(descending=True)

    def idxmin(self):
        return self._extreme_labels(descending=False)

    def rolling(self, window: int):
        return win.Rolling(self, window)

    def expanding(self, min_periods: int = 1):
        return win.Rolling(self, None, min_periods)

    def value_counts(self, ascending: bool = False):
        """Counts per (group, value) as a MultiIndexed Series, ordered
        like pandas: group keys ascending, then count (descending by
        default), value ascending as the tie-break — recorded as a LAZY
        order_spec (nothing sorts until materialization). Missing values
        are dropped like pandas' default."""
        from pontem_spark.core.series import Series

        df = self._df
        knames = list(self._keys)
        (v,) = _valid(df, self._col)
        base = (
            df._internal.sdf.filter(v.isNotNull() & _keys_valid(df, knames))
            .groupBy(
                *[df._columns[k].alias(k) for k in knames],
                v.alias(self._col),
            )
            .agg(F.count(F.lit(1)).alias("__value__"))
        )
        sdf = base.withColumn(
            "__midx__", F.struct(*[F.col(k) for k in knames + [self._col]])
        )
        # spec keys a dedicated helper, not "__value__" (the rebindable
        # value alias) — a derived series would otherwise re-sort by the
        # derived expression (same r10 ADVICE fix as Series.value_counts)
        sdf = sdf.withColumn("__vc_ord__", F.col("__value__"))
        spec = tuple([(k, True) for k in knames]) + (
            ("__vc_ord__", ascending),
            (self._col, True),
        )
        internal = InternalFrame(
            sdf, "__midx__", tuple(knames + [self._col]), order_spec=spec
        )
        return Series._from_internal(internal, sdf["__value__"], self._col)

    def ewm(self, **kwargs):
        return win.Ewm(self, **kwargs)

    def sum(self): return self.agg("sum")
    def mean(self): return self.agg("mean")
    def min(self): return self.agg("min")
    def max(self): return self.agg("max")
    def count(self): return self.agg("count")
    def nunique(self): return self.agg("nunique")
    def std(self): return self.agg("std")
    def var(self): return self.agg("var")
    def median(self): return self.agg("median")
    def first(self): return self.agg("first")
    def last(self): return self.agg("last")
    def prod(self): return self.agg("prod")
    def sem(self): return self.agg("sem")
    def skew(self): return self.agg("skew")
    def kurt(self): return self.agg("kurt")

