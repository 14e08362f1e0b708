"""groupby().agg() — absent in the reference (SURVEY §2.G: 'group-by
aggregation: ∅'); one Spark groupBy/agg pass per call, partial aggregation
and AQE coalescing come free from Catalyst."""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import functions as F

from pontem_spark.core.cells import truediv_cols
from pontem_spark.core.internal import INDEX_COL, InternalFrame

_AGGS: dict[str, Callable] = {
    "sum": F.sum,
    "mean": F.mean,
    "avg": F.mean,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "std": F.stddev_samp,
    "var": F.var_samp,
    "first": F.first,
    "last": F.last,
    "nunique": F.count_distinct,
    "median": lambda c: F.percentile(c, F.lit(0.5)),
}


def _skew_expr(v):
    """Adjusted Fisher-Pearson G1 from raw moments (n, Σx, Σx², Σx³) — the
    derive-from-sums discipline that keeps the oracle portable (engine-
    native skewness() accumulations differ). NULL when n < 3; a
    zero-variance group is 0.0, like pandas (r8 probe: we returned NULL
    there, pandas defines 0/0 as 0)."""
    n = F.count(v).cast("double")
    s1, s2, s3 = F.sum(v), F.sum(v * v), F.sum(v * v * v)
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m3 = s3 / n - F.lit(3.0) * mu * (s2 / n) + F.lit(2.0) * mu * mu * mu
    g1 = m3 / F.pow(m2, F.lit(1.5))
    return F.when(
        n >= 3,
        F.when(
            m2 > 0, g1 * F.sqrt(n * (n - F.lit(1.0))) / (n - F.lit(2.0))
        ).otherwise(F.lit(0.0)),
    )


def _kurt_expr(v):
    """Pandas G2 (excess, bias-adjusted) from raw moments up to Σx⁴; NULL
    when n < 4; a zero-variance group is 0.0, like pandas."""
    n = F.count(v).cast("double")
    s1, s2, s3, s4 = F.sum(v), F.sum(v * v), F.sum(v * v * v), F.sum(v * v * v * v)
    mu = s1 / n
    m2 = s2 / n - mu * mu
    m4 = (
        s4 / n
        - F.lit(4.0) * mu * (s3 / n)
        + F.lit(6.0) * mu * mu * (s2 / n)
        - F.lit(3.0) * mu * mu * mu * mu
    )
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    return F.when(
        n >= 4,
        F.when(
            m2 > 0,
            ((n + F.lit(1.0)) * g2 + F.lit(6.0))
            * (n - F.lit(1.0))
            / ((n - F.lit(2.0)) * (n - F.lit(3.0))),
        ).otherwise(F.lit(0.0)),
    )


# Multi-aggregate COMPOSITE expressions — valid inside groupBy().agg() but
# not over a window (transform raises "unsupported" for them, accurately).
_COMPOSITE_AGGS: dict[str, Callable] = {
    "prod": lambda c: F.coalesce(F.product(c), F.lit(1.0)),
    # sem derived from (n, Σx, Σx²) — NOT stddev_samp: engine-native
    # stddev accumulations differ across engines, the sums form does not
    # (the same portability discipline the incremental rollup uses).
    # n >= 2 guard: a single-row group hits /(n-1)=0, which Spark 4 ANSI
    # THROWS on even for doubles (r8 probe); pandas sem(ddof=1) is NaN
    # there. greatest(...,0): the raw-sums variance can cancel to a tiny
    # negative on constant groups — sqrt would give NaN, pandas gives 0.
    "sem": lambda c: F.when(
        F.count(c) >= 2,
        F.sqrt(
            F.greatest(
                F.sum(c * c) - F.sum(c) * F.sum(c) / F.count(c).cast("double"),
                F.lit(0.0),
            )
            / (F.count(c).cast("double") - F.lit(1.0))
        )
        / F.sqrt(F.count(c).cast("double")),
    ),
    "skew": _skew_expr,
    "kurt": _kurt_expr,
}


def _valid(df, col: str):
    """Column with pandas-missing (NULL or float NaN) blanked to NULL —
    grouped twin of Series/DataFrame._valid_col: Spark aggregates and
    window functions skip NULL but PROPAGATE NaN (a NaN-bearing group's
    mean/sum/max is NaN, count counts it), the opposite of pandas
    skipna (r7 probe: grouped transform('mean') returned all-NaN)."""
    schema = {f.name: f.dataType.simpleString() for f in df._materialized().schema.fields}
    v = df._columns[col]
    if schema.get(col) in ("double", "float"):
        return F.when(F.isnan(v), F.lit(None)).otherwise(v)
    return v


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
    for k in keys:
        cond = cond & _valid(df, k).isNotNull()
    return cond


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
        """{'col': 'sum'} or {'col': ['sum', 'mean']} → one aggregation pass."""
        from pontem_spark.core.frame import DataFrame

        exprs = []
        out_names = []
        idx = self._df._internal.index_col
        for col, how in spec.items():
            hows = [how] if isinstance(how, str) else list(how)
            for h in hows:
                out = col if isinstance(how, str) else f"{col}_{h}"
                v = _valid(self._df, col)
                if h in ("first", "last"):
                    # pandas first/last SKIP missing and follow row order;
                    # bare F.first in a groupBy is order-nondeterministic
                    # AND NaN-blind (r7 probe). min_by/max_by ignore rows
                    # whose ordering key is NULL, so gating the key on
                    # validity gives the first/last NON-MISSING value.
                    pick = F.min_by if h == "first" else F.max_by
                    exprs.append(pick(v, F.when(v.isNotNull(), idx)).alias(out))
                else:
                    fn = _AGGS.get(h) or _COMPOSITE_AGGS.get(h)
                    if fn is None:
                        raise ValueError(f"unsupported aggregation: {h!r}")
                    expr = fn(v)
                    if h == "sum":
                        # pandas sum has min_count=0: an all-missing group
                        # is 0, not NULL (r8 probe). lit(0) keeps the sum's
                        # own type through coalesce's coercion (int stays
                        # bigint, float stays double).
                        expr = F.coalesce(expr, F.lit(0))
                    exprs.append(expr.alias(out))
                out_names.append(out)

        base = (
            self._df._internal.sdf.filter(_keys_valid(self._df, self._keys))
            .groupBy(*[self._df._columns[k].alias(k) for k in self._keys])
            .agg(*exprs)
        )

        if self._as_index and len(self._keys) == 1:
            internal = InternalFrame(base, self._keys[0], self._keys[0])
            return DataFrame._from_internal(internal, {c: base[c] for c in out_names})
        if self._as_index:
            # multi-key → struct-backed MultiIndex, the same representation
            # set_index(list) builds (frame.py): struct ordering is
            # lexicographic by field = MultiIndex sort order, and
            # to_pandas/reset_index already translate it back
            sdf = base.withColumn("__midx__", F.struct(*[F.col(k) for k in self._keys]))
            internal = InternalFrame(sdf, "__midx__", tuple(self._keys))
            return DataFrame._from_internal(internal, {c: sdf[c] for c in out_names})
        sdf = base.withColumn(INDEX_COL, F.monotonically_increasing_id())
        internal = InternalFrame(sdf, INDEX_COL, None)
        return DataFrame._from_internal(
            internal, {c: sdf[c] for c in self._keys + out_names}
        )

    def _all_numeric(self, how: str) -> "DataFrame":
        import numpy as np

        schema = {f.name: f.dataType.simpleString() for f in self._df._materialized().schema.fields}
        numeric = {
            c
            for c in self._df.columns
            if schema[c] in ("tinyint", "smallint", "int", "bigint", "float", "double")
        }
        cols = [c for c in self._df.columns if c not in self._keys and (how == "count" or c in numeric)]
        return self.agg({c: how for c in cols})

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
            *[_valid(df, k).alias(n) for k, n in zip(self._keys, knames)],
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
        """count/mean/std/min/25%/50%/75%/max of every numeric column in
        ONE aggregation pass; columns flattened to ``{col}_{stat}`` (this
        build has no MultiIndex columns)."""
        from pontem_spark.core.frame import DataFrame

        schema = {
            f.name: f.dataType.simpleString()
            for f in self._df._materialized().schema.fields
        }
        numeric = [
            c
            for c in self._df.columns
            if c not in self._keys
            and schema[c] in ("tinyint", "smallint", "int", "bigint", "float", "double")
        ]
        exprs, names = [], []
        for c in numeric:
            v = _valid(self._df, c)
            for stat, e in (
                ("count", F.count(v)),
                ("mean", F.mean(v)),
                ("std", F.stddev_samp(v)),
                ("min", F.min(v)),
                ("25%", F.percentile(v, F.lit(0.25))),
                ("50%", F.percentile(v, F.lit(0.5))),
                ("75%", F.percentile(v, F.lit(0.75))),
                ("max", F.max(v)),
            ):
                n = f"{c}_{stat}"
                exprs.append(e.alias(n))
                names.append(n)
        base = (
            self._df._internal.sdf.filter(_keys_valid(self._df, self._keys))
            .groupBy(*[self._df._columns[k].alias(k) for k in self._keys])
            .agg(*exprs)
        )
        if len(self._keys) == 1:
            internal = InternalFrame(base, self._keys[0], self._keys[0])
            return DataFrame._from_internal(internal, {c: base[c] for c in names})
        sdf = base.withColumn("__midx__", F.struct(*[F.col(k) for k in self._keys]))
        internal = InternalFrame(sdf, "__midx__", tuple(self._keys))
        return DataFrame._from_internal(internal, {c: sdf[c] for c in names})

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
        from pyspark.sql import Window

        from pontem_spark.core.frame import DataFrame

        w = Window.partitionBy(*[self._df._columns[k] for k in self._keys])
        cols = {c: self._df._columns[c] for c in self._user_columns()}
        for col, how in spec.items():
            fn = _AGGS.get(how)
            if fn is None:
                raise ValueError(f"unsupported aggregation: {how!r}")
            cols[col] = F.when(
                _keys_valid(self._df, self._keys),
                fn(_valid(self._df, col)).over(w),
            )
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
    ``agg``/named reductions delegate to the frame-level GroupBy."""

    def __init__(self, df, keys: list[str], col: str):
        self._df = df
        self._keys = keys
        self._col = col

    def transform(self, how: str):
        from pyspark.sql import Window

        from pontem_spark.core.series import Series

        fn = _AGGS.get(how)
        if fn is None:
            raise ValueError(f"unsupported aggregation: {how!r}")
        w = Window.partitionBy(*[self._df._columns[k] for k in self._keys])
        over = fn(_valid(self._df, self._col)).over(w)
        if how == "sum":
            # pandas min_count=0: an all-missing group transforms to 0
            over = F.coalesce(over, F.lit(0))
        col = F.when(_keys_valid(self._df, self._keys), over)
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

    # ordered per-group window transforms (r7 probe) --------------------
    # Each is one partitioned window over the group keys ordered by the
    # index — a single shuffle on the keys, result shares the parent
    # anchor (assigning back stays one growing plan).

    def _wins(self):
        from pyspark.sql import Window

        # within-group ROW order = the frame's VISIBLE order (a sorted
        # frame's grouped cumsum/shift accumulate in sorted order, like
        # pandas — r10 composition probe)
        idx_name = self._df._internal.index_spark_col
        spec = self._df._internal.order_spec or ((idx_name, True),)
        order = [F.col(n).asc() if asc else F.col(n).desc() for n, asc in spec]
        part = [self._df._columns[k] for k in self._keys]
        w = Window.partitionBy(*part).orderBy(*order)
        wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return w, wcum

    def shift(self, periods: int = 1, fill_value=None):
        from pontem_spark.core.series import Series

        w, _ = self._wins()
        raw = self._df._columns[self._col]
        col = (
            F.lag(raw, periods, fill_value).over(w)
            if periods >= 0
            else F.lead(raw, -periods, fill_value).over(w)
        )
        col = F.when(_keys_valid(self._df, self._keys), col)
        return Series._from_internal(self._df._internal, col, self._col)

    def diff(self, periods: int = 1):
        from pontem_spark.core.series import Series

        w, _ = self._wins()
        v = _valid(self._df, self._col)
        prev = F.lag(v, periods).over(w) if periods >= 0 else F.lead(v, -periods).over(w)
        col = F.when(_keys_valid(self._df, self._keys), v - prev)
        return Series._from_internal(self._df._internal, col, self._col)

    def pct_change(self, periods: int = 1):
        """Pandas 2.x semantics: non-leading missing values pad forward
        WITHIN the group before differencing; /0 yields ±inf/NaN (the
        Series.pct_change guard), never an ANSI throw."""
        from pontem_spark.core.series import Series

        w, wcum = self._wins()
        v = _valid(self._df, self._col)
        filled = F.last(v, ignorenulls=True).over(wcum)
        prev = F.lag(filled, periods).over(w)
        # pandas computes v/prev - 1 (not (v-prev)/prev) — same algebra,
        # different last-ulp floats; mirror its operation order exactly
        col = F.when(
            _keys_valid(self._df, self._keys), truediv_cols(filled, prev) - 1
        )
        return Series._from_internal(self._df._internal, col, self._col)

    def _cum(self, aggfn):
        from pontem_spark.core.series import Series

        _, wcum = self._wins()
        v = _valid(self._df, self._col)
        # missing slots stay missing; missing values never enter the
        # running state (the Series._cum rule, partitioned)
        col = F.when(
            v.isNotNull() & _keys_valid(self._df, self._keys), aggfn(v).over(wcum)
        )
        return Series._from_internal(self._df._internal, col, self._col)

    def cumsum(self): return self._cum(F.sum)
    def cummax(self): return self._cum(F.max)
    def cummin(self): return self._cum(F.min)

    def cumcount(self):
        return GroupBy(self._df, self._keys).cumcount()

    def rank(self, method: str = "average", ascending: bool = True, pct: bool = False):
        """Series.rank partitioned by the group keys — missing keeps NULL,
        pct divides by the group's non-missing count ('dense': its
        distinct count via the two-direction dense_rank identity)."""
        from pyspark.sql import Window

        from pontem_spark.core.series import Series

        if method not in ("average", "min", "max", "dense", "first"):
            raise ValueError(f"unsupported rank method {method!r}")
        idx = F.col(self._df._internal.index_spark_col)
        part = [self._df._columns[k] for k in self._keys]
        v = _valid(self._df, self._col)
        present = v.isNotNull()
        order = [present.desc(), v.asc() if ascending else v.desc()]
        if method == "first":
            r = F.row_number().over(
                Window.partitionBy(*part).orderBy(*order, idx.asc())
            ).cast("double")
        elif method == "dense":
            r = F.dense_rank().over(Window.partitionBy(*part).orderBy(*order)).cast("double")
        else:
            lo = F.rank().over(Window.partitionBy(*part).orderBy(*order))
            cnt = F.count(F.when(present, F.lit(1))).over(
                Window.partitionBy(*part, v)
            )
            if method == "min":
                r = lo.cast("double")
            elif method == "max":
                r = (lo + cnt - 1).cast("double")
            else:
                r = (lo.cast("double") + (lo + cnt - 1)) / 2.0
        if pct:
            if method == "dense":
                rev = [present.desc(), v.desc() if ascending else v.asc()]
                denom = (
                    F.dense_rank().over(Window.partitionBy(*part).orderBy(*order))
                    + F.dense_rank().over(Window.partitionBy(*part).orderBy(*rev))
                    - 1
                )
            else:
                denom = F.sum(present.cast("long")).over(Window.partitionBy(*part))
            r = r / denom
        return Series._from_internal(
            self._df._internal,
            F.when(present & _keys_valid(self._df, self._keys), r),
            self._col,
        )

    def _idx_of(self, best_first_order):
        from pyspark.sql import Window

        from pontem_spark.core.series import Series

        idx = INDEX_COL  # _materialized() travels the index under INDEX_COL
        sdf = self._df._materialized()
        v = sdf[self._col]
        if dict(sdf.dtypes).get(self._col) in ("double", "float"):
            v = F.when(~F.isnan(v), v)
        w = Window.partitionBy(*self._keys).orderBy(
            *best_first_order(v), F.col(idx).asc()
        )
        picked = (
            sdf.filter(_keys_valid_sdf(sdf, self._keys))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            # an all-missing group keeps its row with a NULL index — the
            # pandas 2.x shape (idxmax of an all-NaN group is NaN; r8
            # probe found these groups were dropped entirely)
            .select(*self._keys, F.when(v.isNotNull(), F.col(idx)).alias("__value__"))
        )
        if len(self._keys) == 1:
            internal = InternalFrame(picked, self._keys[0], self._keys[0])
            return Series._from_internal(internal, picked["__value__"], self._col)
        out = picked.withColumn("__midx__", F.struct(*[F.col(k) for k in self._keys]))
        internal = InternalFrame(out, "__midx__", tuple(self._keys))
        return Series._from_internal(internal, out["__value__"], self._col)

    def idxmax(self):
        """Index of the group's first maximal non-missing value (pandas
        tie rule) — one partitioned window + filter, no join-back."""
        return self._idx_of(lambda v: [v.desc_nulls_last()])

    def idxmin(self):
        return self._idx_of(lambda v: [v.asc_nulls_last()])

    def rolling(self, window: int):
        from pontem_spark.core.window import GroupedRolling

        return GroupedRolling(self._df, self._keys, self._col, window)

    def expanding(self, min_periods: int = 1):
        from pontem_spark.core.window import GroupedExpanding

        return GroupedExpanding(self._df, self._keys, self._col, min_periods)

    def value_counts(self, ascending: bool = False):
        """Counts per (group, value) as a MultiIndexed Series, ordered
        like pandas: group keys ascending, then count (descending by
        default), value ascending as the tie-break — recorded as a LAZY
        order_spec (nothing sorts until materialization). Missing values
        are dropped like pandas' default."""
        from pontem_spark.core.series import Series

        df = self._df
        knames = list(self._keys)
        v = _valid(df, self._col)
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
        from pontem_spark.core.window import GroupedEwm

        return GroupedEwm(self._df, self._keys, self._col, kwargs)

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

