"""Series: 1-D labeled data over Spark — the reference's core abstraction
(``pontem/series/series.py:18-262``) rebuilt Catalyst-first.

Differences from the reference, by design (SURVEY §2, §4):

- ops return a Series sharing the SAME anchor DataFrame with a new Column
  expression — chains like ``(s * 2 + s).sum()`` compile to ONE Spark plan
  (the reference re-ingested through RDD + zipWithIndex per op, `series.py:226`);
- Series⊕Series across different anchors performs pandas index ALIGNMENT
  (full outer join on index; the reference paired positionally and dropped
  the index, `series.py:200-215`);
- scalar arithmetic is a native Column op with SQL type coercion (the
  reference forced a FloatType Python UDF, `series.py:219-222`);
- min/max run through Catalyst (`F.min/F.max`), not ``rdd.min()``
  (`series.py:169,173`);
- ``astype`` covers the full dtype table (the reference: int only, with an
  unbound-variable crash for the rest, `series.py:183-188`);
- ``head``/``describe`` return objects, deterministically ordered by index
  (the reference printed and returned None, `series.py:153,177`);
- ``__getitem__`` supports labels, boolean masks, and slices (stubbed at
  `series.py:257-262`).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame as SparkDataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType

from pontem_spark.core.cells import (
    combine_cells,
    dtypes,
    missing,
    scalar_dtype,
    truediv_cols,
    unary,
)
from pontem_spark.core.internal import (
    INDEX_COL,
    InternalFrame,
    align_rows,
    next_epos_name,
    rowalign_keys,
    rowalign_left_join as _rowalign_left_join,
    to_spark_type,
)

_VALUE = "__value__"


def _window_free(col: Column) -> bool:
    """True when ``col`` provably contains no window expression, so a
    positional op (shift/cumsum/pct_change) can wrap it in its OWN window
    directly on the anchor DataFrame instead of materializing first. The
    direct anchoring keeps the result on the SAME anchor as its source, so
    ``s - s.shift(1)`` and ``f[c] = s.diff()`` compose column-wise with
    ZERO joins — exact positional pairing even when the order spec has
    ties between duplicate index labels (where a label+helper join would
    fan out, r13 probe). Detection is the rendered expression: every
    window expression prints ``... OVER (...)``; a false positive (a
    string literal containing " OVER ") just takes the safe materialize
    path. Spark 4 accepts nested windows, but materializing windowed
    inputs also bounds expression growth in chains like s.diff().diff()."""
    try:
        return " OVER " not in str(col)
    except Exception:
        return False


class Series:
    """1-D labeled array over a Spark anchor DataFrame."""

    # -- construction -------------------------------------------------------

    def __init__(
        self,
        data: Iterable | None = None,
        index: Iterable | None = None,
        name: Any = None,
        spark: SparkSession | None = None,
        sc: Any = None,
    ):
        if data is None:
            raise ValueError("Series requires data")
        if spark is None and sc is not None:
            # reference-API compatibility: pt.Series(sc=sc, data=...) took a
            # SparkContext (`pontem/series/series.py:22-49`); accept either a
            # SparkContext or a SparkSession here and use the active session.
            spark = sc if isinstance(sc, SparkSession) else SparkSession.getActiveSession()
        internal, _ = InternalFrame.from_local(data, index, spark, _VALUE)
        self._internal = internal
        self._col = internal.sdf[_VALUE]
        self._name = name
        self._cached_len: int | None = None

    @classmethod
    def _from_internal(cls, internal: InternalFrame, col: Column, name: Any) -> "Series":
        s = cls.__new__(cls)
        s._internal = internal
        s._col = col
        s._name = name
        s._cached_len = None
        return s

    # -- metadata -----------------------------------------------------------

    @property
    def name(self) -> Any:
        return self._name

    @name.setter
    def name(self, value: Any) -> None:
        self._name = value

    def rename(self, name: Any) -> "Series":
        return Series._from_internal(self._internal, self._col, name)

    @property
    def index(self):
        from pontem_spark.core.indexes import Index

        return Index(self)

    @property
    def dtype(self):
        import numpy as np

        return {
            "tinyint": np.dtype("int8"), "smallint": np.dtype("int16"),
            "int": np.dtype("int32"), "bigint": np.dtype("int64"),
            "float": np.dtype("float32"), "double": np.dtype("float64"),
            "boolean": np.dtype("bool"), "string": np.dtype("object"),
            "timestamp": np.dtype("datetime64[us]"), "date": np.dtype("O"),
        }.get(self._dtype_str(), np.dtype("O"))

    @property
    def shape(self) -> tuple[int]:
        return (len(self),)

    def __len__(self) -> int:
        if self._cached_len is None:
            self._cached_len = self._internal.sdf.count()
        return self._cached_len

    @property
    def spark_column(self) -> Column:
        return self._col

    def to_spark(self, value_name: str | None = None) -> SparkDataFrame:
        """Escape hatch: the underlying (index, value) Spark DataFrame."""
        vname = value_name or (str(self._name) if self._name is not None else "None")
        iname = str(self._internal.index_name) if self._internal.index_name is not None else INDEX_COL
        return self._internal.sdf.select(
            self._internal.index_col.alias(iname), self._col.alias(vname)
        )

    def _materialized(self, value_alias: str = _VALUE) -> SparkDataFrame:
        # order-spec helper columns (sort_values' __miss__ flag) survive
        # materialization so downstream positional ops can reference the
        # spec; user-facing edges never show them (they select by name)
        extras = [
            n
            for n, _ in (self._internal.order_spec or ())
            if n not in (INDEX_COL, _VALUE, value_alias)
            and n in self._internal.sdf.columns
        ]
        extras = list(dict.fromkeys(extras))
        return self._internal.sdf.select(
            self._internal.index_col.alias(INDEX_COL),
            self._col.alias(value_alias),
            *[F.col(n) for n in extras],
        )

    def _ordered(self, sdf):
        return sdf.orderBy(*self._internal.order_columns(INDEX_COL))

    def _missing_mask(self, col: Column, sdf: "SparkDataFrame | None" = None) -> Column:
        """pandas missing-ness over a Spark column: NULL, plus NaN for
        float dtypes (Spark distinguishes the two; pandas treats both as
        missing). THE one definition every skipna-style op must share —
        clip/_cum/rank/mode/autocorr all route here."""
        frame = sdf if sdf is not None else self._internal.sdf
        return missing(col, dtypes(frame, col)[0])

    def to_pandas(self):
        import pandas as pd

        pdf = self._ordered(self._materialized()).toPandas()
        name = self._internal.index_name
        if isinstance(name, tuple):  # struct-backed MultiIndex
            if len(pdf) == 0:
                idx = pd.MultiIndex.from_arrays([[] for _ in name], names=list(name))
            else:
                idx = pd.MultiIndex.from_tuples(
                    [
                        tuple(r.values()) if isinstance(r, dict) else tuple(r)
                        for r in pdf[INDEX_COL]
                    ],
                    names=list(name),
                )
            return pd.Series(pdf[_VALUE].values, index=idx, name=self._name)
        out = pd.Series(pdf[_VALUE].values, index=pdf[INDEX_COL].values, name=self._name)
        out.index.name = name
        return out

    def __repr__(self) -> str:  # never a full count/scan (SURVEY §4: repr hazard)
        preview = self._ordered(self._materialized()).limit(6).toPandas()
        shown = preview.iloc[:5]
        lines = [f"{i}\t{v}" for i, v in zip(shown[INDEX_COL], shown[_VALUE])]
        if len(preview) > 5:
            lines.append("...")
        lines.append(f"Name: {self._name}, dtype: {self.dtype} (pontem_spark.Series, lazy)")
        return "\n".join(lines)

    # -- arithmetic / comparison dunders -------------------------------------

    _CMP_SERIES_MSG = "Can only compare identically-labeled Series objects"

    def _binop(
        self, other: Any, op: str, reflected: bool = False,
        strict: bool = False, fill_value=None,
    ) -> "Series":
        """The one Series ⊕ other dispatch: same anchor → expression
        composition; a ``_mat_pair`` hop → composition on the derived
        anchor; any other Series → the row aligner shared with DataFrame
        (``internal.align_rows``); a scalar → a literal operand. The cell
        itself comes from ``cells.combine_cells``, the table DataFrame ops
        use. ``strict`` marks dunder comparisons, which require
        identically-labeled operands like pandas."""
        from pontem_spark.core.frame import DataFrame as _PFrame

        if isinstance(other, _PFrame):
            # Series ⊕ DataFrame → let Python dispatch to the frame's
            # reflected dunder (column-axis broadcast, r13)
            return NotImplemented
        finish = None
        if not isinstance(other, Series):
            odt = scalar_dtype(other)
            internal, scol, ocol, name = self._internal, self._col, F.lit(other), self._name
            sdt = self._dtype_str()
        else:
            name = self._name if self._name == other._name else None
            if other._internal.sdf is self._internal.sdf:
                internal, scol, ocol = self._internal, self._col, other._col
            elif (pair := self._mat_pair(other)) is not None:
                scol, ocol, internal = pair
            else:
                internal, finish, sdt, odt = self._align(other, strict)
                scol, ocol = internal.sdf["__a__"], internal.sdf["__b__"]
            if finish is None:  # one shared anchor: one analysis
                sdt, odt = dtypes(internal.sdf, scol, ocol)
        col = combine_cells(
            op, scol, ocol, sdt, odt, reflected=reflected,
            fill_value=fill_value, int64=finish is None,
            literal=not isinstance(other, Series),
        )
        return Series._from_internal(
            internal, col if finish is None else finish(col), name
        )

    def _mat_pair(self, other: "Series"):
        """Same-anchor composition across one materialization hop.

        A positional op on a WINDOWED column (shift/_cum/pct_change
        fallback) re-anchors its result on ``self._materialized()`` and
        tags it with ``_mat_source`` = the source series. When that result
        later meets its own source in a binop (``s.diff().diff()`` →
        ``m - m.shift()`` where the shift re-anchored), the source's value
        still lives on the derived anchor as the ``_VALUE`` column — so
        compose there, row-for-row exact, instead of falling into the
        label+helper alignment join (which fans out when duplicate index
        labels tie on every order-spec column, r13 probe). Returns
        (self_col, other_col, internal) on the shared anchor, else None."""
        for a, b, swap in ((self, other, False), (other, self, True)):
            src = getattr(b, "_mat_source", None)
            if src is None:
                continue
            if src is a or (
                src._internal.sdf is a._internal.sdf and str(src._col) == str(a._col)
            ):
                a_col = b._internal.sdf[_VALUE]
                return (
                    (b._col, a_col, b._internal)
                    if swap
                    else (a_col, b._col, b._internal)
                )
        return None

    def _align(self, other: "Series", strict: bool = False):
        """Cross-anchor row pairing through the shared aligner; the two
        values ride as ``__a__``/``__b__`` on the returned anchor. Returns
        ``(internal, finish, a_dtype, b_dtype)``, the dtypes read from the
        pre-join schemas."""
        a, b = self._materialized("__a__"), other._materialized("__b__")
        internal, finish = align_rows(
            self._internal, other._internal, a, b,
            {"__a__": "__a__"}, {"__b__": "__b__"},
            strict=self._CMP_SERIES_MSG if strict else None,
        )
        return (
            internal, finish,
            a.schema["__a__"].dataType.simpleString(),
            b.schema["__b__"].dataType.simpleString(),
        )

    def __add__(self, o): return self._binop(o, "add")
    def __radd__(self, o): return self._binop(o, "add", reflected=True)
    def __sub__(self, o): return self._binop(o, "sub")
    def __rsub__(self, o): return self._binop(o, "sub", reflected=True)
    def __mul__(self, o): return self._binop(o, "mul")
    def __rmul__(self, o): return self._binop(o, "mul", reflected=True)
    def __truediv__(self, o): return self._binop(o, "truediv")
    def __rtruediv__(self, o): return self._binop(o, "truediv", reflected=True)
    def __floordiv__(self, o): return self._binop(o, "floordiv")
    def __rfloordiv__(self, o): return self._binop(o, "floordiv", reflected=True)
    def __mod__(self, o): return self._binop(o, "mod")
    def __rmod__(self, o): return self._binop(o, "mod", reflected=True)
    def __pow__(self, o): return self._binop(o, "pow")
    def __rpow__(self, o): return self._binop(o, "pow", reflected=True)
    def __and__(self, o): return self._binop(o, "and_")
    def __rand__(self, o): return self._binop(o, "and_", reflected=True)
    def __or__(self, o): return self._binop(o, "or_")
    def __ror__(self, o): return self._binop(o, "or_", reflected=True)
    def __xor__(self, o): return self._binop(o, "xor")
    def __rxor__(self, o): return self._binop(o, "xor", reflected=True)

    # dunder comparisons: STRICT — pandas requires identically-labeled
    # operands; the named eq/ne/lt/le/gt/ge align like arithmetic
    def __eq__(self, o): return self._binop(o, "eq", strict=True)  # type: ignore[override]
    def __ne__(self, o): return self._binop(o, "ne", strict=True)  # type: ignore[override]
    def __lt__(self, o): return self._binop(o, "lt", strict=True)
    def __le__(self, o): return self._binop(o, "le", strict=True)
    def __gt__(self, o): return self._binop(o, "gt", strict=True)
    def __ge__(self, o): return self._binop(o, "ge", strict=True)

    def _dtype_str(self) -> "str | None":
        return dtypes(self._internal.sdf, self._col)[0]

    def __invert__(self):
        col = unary("invert", self._col, self._dtype_str())
        return Series._from_internal(self._internal, col, self._name)

    def __neg__(self):
        col = unary("neg", self._col, self._dtype_str())
        return Series._from_internal(self._internal, col, self._name)

    def __hash__(self):  # __eq__ returns Series; keep hashable by identity
        return id(self)

    # -- named arithmetic (pandas s.add(other, fill_value=...) family) --------

    def add(self, other, fill_value=None): return self._binop(other, "add", fill_value=fill_value)
    def radd(self, other, fill_value=None): return self._binop(other, "add", True, fill_value=fill_value)
    def sub(self, other, fill_value=None): return self._binop(other, "sub", fill_value=fill_value)
    def rsub(self, other, fill_value=None): return self._binop(other, "sub", True, fill_value=fill_value)
    def mul(self, other, fill_value=None): return self._binop(other, "mul", fill_value=fill_value)
    def rmul(self, other, fill_value=None): return self._binop(other, "mul", True, fill_value=fill_value)
    def div(self, other, fill_value=None): return self._binop(other, "truediv", fill_value=fill_value)
    truediv = div
    def rdiv(self, other, fill_value=None): return self._binop(other, "truediv", True, fill_value=fill_value)
    rtruediv = rdiv
    def floordiv(self, other, fill_value=None): return self._binop(other, "floordiv", fill_value=fill_value)
    def rfloordiv(self, other, fill_value=None): return self._binop(other, "floordiv", True, fill_value=fill_value)
    def mod(self, other, fill_value=None): return self._binop(other, "mod", fill_value=fill_value)
    def rmod(self, other, fill_value=None): return self._binop(other, "mod", True, fill_value=fill_value)
    def pow(self, other, fill_value=None): return self._binop(other, "pow", fill_value=fill_value)
    def rpow(self, other, fill_value=None): return self._binop(other, "pow", True, fill_value=fill_value)

    def eq(self, other): return self._binop(other, "eq")
    def ne(self, other): return self._binop(other, "ne")
    def lt(self, other): return self._binop(other, "lt")
    def le(self, other): return self._binop(other, "le")
    def gt(self, other): return self._binop(other, "gt")
    def ge(self, other): return self._binop(other, "ge")

    def abs(self) -> "Series":
        return Series._from_internal(self._internal, F.abs(self._col), self._name)

    def round(self, decimals: int = 0) -> "Series":
        # bround, not round: pandas/numpy round half to EVEN (2.5 -> 2.0),
        # Spark's round is half-up (2.5 -> 3.0)
        return Series._from_internal(self._internal, F.bround(self._col, decimals), self._name)

    # -- reductions (all Catalyst aggregates, batched where multi-stat) ------

    def _agg(self, col: Column) -> Any:
        return self._internal.sdf.select(col).first()[0]

    @property
    def _valid_col(self) -> Column:
        """The value column with pandas-missing (NULL or float NaN) blanked
        to NULL — what every skipna reduction must aggregate over. Spark
        aggregates skip NULL but PROPAGATE NaN (sum/mean/max of anything
        containing NaN is NaN, count/nunique count it), which is the exact
        opposite of pandas' skipna=True default (found by the r7 probe:
        every reduction diverged on a NaN-bearing series)."""
        return F.when(~self._missing_mask(self._col), self._col)

    @staticmethod
    def _nan_if_none(v):
        # pandas returns NaN (not None) when no valid values remain
        return float("nan") if v is None else v

    def sum(self):
        # pandas: sum of an empty/all-missing series is 0, not NaN
        v = self._agg(F.sum(self._valid_col))
        return 0 if v is None else v

    def mean(self): return self._nan_if_none(self._agg(F.mean(self._valid_col)))
    def min(self): return self._nan_if_none(self._agg(F.min(self._valid_col)))
    def max(self): return self._nan_if_none(self._agg(F.max(self._valid_col)))
    def count(self): return self._agg(F.count(self._valid_col))  # non-missing, like pandas

    def std(self, ddof: int = 1):
        if ddof == 1:
            return self._nan_if_none(self._agg(F.stddev_samp(self._valid_col)))
        if ddof == 0:
            return self._nan_if_none(self._agg(F.stddev_pop(self._valid_col)))
        row = self._internal.sdf.select(
            F.var_samp(self._valid_col).alias("v"), F.count(self._valid_col).alias("n")
        ).first()
        if row["v"] is None or row["n"] - ddof <= 0:
            return float("nan")
        return (row["v"] * (row["n"] - 1) / (row["n"] - ddof)) ** 0.5

    def var(self, ddof: int = 1):
        if ddof == 1:
            return self._nan_if_none(self._agg(F.var_samp(self._valid_col)))
        return (
            self._nan_if_none(self._agg(F.var_pop(self._valid_col)))
            if ddof == 0
            else self.std(ddof) ** 2
        )

    def median(self):
        return self._nan_if_none(self._agg(F.percentile(self._valid_col, F.lit(0.5))))

    def quantile(self, q: float = 0.5, interpolation: str = "linear"):
        """Exact quantile of the non-missing values. ``linear`` is ONE
        percentile aggregate; the order-statistic methods (lower/higher/
        nearest/midpoint) select exact elements via TakeOrdered
        offset+limit — no interpolation arithmetic to diverge by an ulp."""
        if not isinstance(q, (int, float)):
            # list-like q → pandas Series indexed by q (like describe,
            # aggregate results come back as pandas objects)
            import pandas as pd

            qs = [float(x) for x in q]
            if interpolation == "linear":
                row = self._internal.sdf.select(
                    F.percentile(
                        self._valid_col, F.array(*[F.lit(x) for x in qs])
                    ).alias("__q")
                ).first()
                vals = row["__q"] if row["__q"] is not None else [float("nan")] * len(qs)
                return pd.Series(
                    [float("nan") if v is None else float(v) for v in vals],
                    index=qs,
                    dtype="float64",
                )
            return pd.Series(
                [float(self.quantile(x, interpolation=interpolation)) for x in qs],
                index=qs,
                dtype="float64",
            )
        if interpolation == "linear":
            return self._nan_if_none(self._agg(F.percentile(self._valid_col, F.lit(q))))
        if interpolation not in ("lower", "higher", "nearest", "midpoint"):
            raise ValueError(f"unsupported interpolation {interpolation!r}")
        import math

        n = self.count()
        if n == 0:
            return float("nan")
        h = (n - 1) * q
        lo, hi = math.floor(h), math.ceil(h)
        if interpolation == "lower":
            picks = [lo]
        elif interpolation == "higher":
            picks = [hi]
        elif interpolation == "nearest":
            picks = [round(h)]  # numpy rounds half-to-even here, like round()
        else:
            picks = [lo, hi] if lo != hi else [lo]
        vals = [
            self._internal.sdf.select(self._valid_col.alias("__q"))
            .where(F.col("__q").isNotNull())
            .orderBy(F.col("__q").asc())
            .offset(k)
            .limit(1)
            .first()["__q"]
            for k in picks
        ]
        return float(sum(vals) / len(vals)) if len(vals) > 1 else vals[0]

    def nunique(self): return self._agg(F.count_distinct(self._valid_col))

    def any(self):
        # skipna like pandas: missing never decides; all-missing → False
        v = self._agg(F.max(self._valid_col.cast("boolean")))
        return bool(v) if v is not None else False

    def all(self):
        # all-missing/empty → True, pandas' vacuous truth
        v = self._agg(F.min(self._valid_col.cast("boolean")))
        return bool(v) if v is not None else True

    def describe(self):
        """count/mean/std/min/quartiles/max in ONE aggregation pass,
        returned as a pandas Series (the reference printed and returned
        None, `series.py:152-153`)."""
        import pandas as pd

        v = self._valid_col
        row = self._internal.sdf.select(
            F.count(v).alias("count"),
            F.mean(v).alias("mean"),
            F.stddev_samp(v).alias("std"),
            F.min(v).alias("min"),
            F.percentile(v, F.lit(0.25)).alias("25%"),
            F.percentile(v, F.lit(0.5)).alias("50%"),
            F.percentile(v, F.lit(0.75)).alias("75%"),
            F.max(v).alias("max"),
        ).first()
        return pd.Series(row.asDict(), name=self._name)

    # -- ordering / selection -------------------------------------------------

    def head(self, n: int = 5) -> "Series":
        sdf = self._ordered(self._materialized()).limit(n)
        return Series._from_internal(
            InternalFrame(sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec),
            sdf[_VALUE],
            self._name,
        )

    def sort_values(self, ascending: bool = True, na_position: str = "last") -> "Series":
        # lazy: only the order SPEC changes; the sort runs at materialization.
        # pandas keeps missing at the chosen END regardless of direction;
        # Spark orders NaN as the LARGEST value, which silently puts NaN
        # FIRST on a descending sort — so missing-ness leads the order spec.
        if na_position not in ("last", "first"):
            raise ValueError(f"sort_values: na_position must be 'first' or 'last', got {na_position!r}")
        sdf = self._materialized()
        miss = self._missing_mask(F.col(_VALUE), sdf)
        # the sort keys live in DEDICATED helper columns, not the
        # rebindable _VALUE alias: a derived series (s2 = sorted > 0)
        # would otherwise re-materialize sorted by the DERIVED expression
        # (r10 probe — value_counts' ADVICE bug class, same fix). Helper
        # names are minted past any the prior spec uses (re-sorting must
        # not overwrite the recorded old sort values the tie-break below
        # points at).
        taken = {n for n, _ in (self._internal.order_spec or ())}
        sm, sv = "__miss__", "__sv_ord__"
        k = 2
        while sm in taken or sv in taken:
            sm, sv = f"__miss{k}__", f"__sv_ord{k}__"
            k += 1
        sdf = sdf.withColumn(sm, miss).withColumn(sv, F.col(_VALUE))
        # rows tied on the sort key — including the whole missing block —
        # keep their previous VISIBLE order (the prior spec rides along as
        # the tie-break, like sort_index; pandas kind='stable'), with the
        # index as the tie-break of last resort.
        spec = [(sm, na_position == "last"), (sv, ascending)]
        seen = {sm, sv}
        for n, a in (self._internal.order_spec or ()):
            if n not in seen and n in sdf.columns:
                spec.append((n, a))
                seen.add(n)
        if INDEX_COL not in seen:
            spec.append((INDEX_COL, True))
        internal = InternalFrame(
            sdf,
            INDEX_COL,
            self._internal.index_name,
            # ascending=True sorts False(valid) before True(missing) → "last"
            tuple(spec),
            row_tokens=self._internal.row_tokens,
        )
        return Series._from_internal(internal, sdf[_VALUE], self._name)

    def sort_index(self, ascending: bool = True) -> "Series":
        # the sort key lives in a DEDICATED helper column, not INDEX_COL:
        # a later set_index/index rebind would re-sort by the NEW index
        # (r10 composition probe — the derived-rebind class). Missing
        # labels sort LAST both directions (pandas na_position='last');
        # ties keep the previous visible order (pandas kind='stable' —
        # the quicksort default's intra-tie order is an artifact, see
        # DataFrame.sort_index).
        mat = self._materialized()
        names = {n for n, _ in (self._internal.order_spec or ())}
        si, sm = "__si_ord__", "__si_miss__"
        k = 2
        while si in names or sm in names:
            si, sm = f"__si_ord{k}__", f"__si_miss{k}__"
            k += 1
        miss = F.col(INDEX_COL).isNull()
        try:
            if mat.schema[INDEX_COL].dataType.simpleString() in ("double", "float"):
                miss = miss | F.isnan(F.col(INDEX_COL))
        except Exception:  # non-resolvable index dtype: null-only
            pass
        sdf = mat.withColumn(sm, miss).withColumn(si, F.col(INDEX_COL))
        prior = tuple(
            (n, asc)
            for n, asc in (self._internal.order_spec or ())
            if n in sdf.columns
        )
        internal = InternalFrame(
            sdf,
            INDEX_COL,
            self._internal.index_name,
            ((sm, True), (si, ascending)) + prior,
            row_tokens=self._internal.row_tokens,
        )
        return Series._from_internal(internal, sdf[_VALUE], self._name)

    def nlargest(self, n: int = 5, keep: str = "first") -> "Series":
        # TakeOrderedAndProject: k rows per partition move, no global sort.
        # pandas ranks only VALID values (Spark's NaN-is-largest would put
        # NaN at rank 1 of nlargest); missing rows fill the tail when n
        # exceeds the valid count, which is also what pandas does.
        return self._n_extreme(n, largest=True, keep=keep)

    def nsmallest(self, n: int = 5, keep: str = "first") -> "Series":
        return self._n_extreme(n, largest=False, keep=keep)

    def _n_extreme(self, n: int, largest: bool, keep: str = "first") -> "Series":
        """``keep``: 'first'/'last' break boundary ties by lowest/highest
        index (pandas: first/last POSITION — the documented index-order
        deviation); 'all' keeps every row tying the n-th value, so the
        result can exceed n rows (ONE extra broadcast 1-row threshold
        join, still no global sort)."""
        if keep not in ("first", "last", "all"):
            raise ValueError(f"nlargest/nsmallest: keep must be 'first', 'last' or 'all', got {keep!r}")
        mat = self._materialized()
        miss = self._missing_mask(F.col(_VALUE), mat)
        # dedicated sort-key helper — same derived-rebind fix as
        # sort_values (r10 probe)
        sdf = mat.withColumn("__miss__", miss).withColumn(
            "__sv_ord__", F.col(_VALUE)
        )
        val_order = F.col(_VALUE).desc() if largest else F.col(_VALUE).asc()
        if keep == "all":
            # boundary value among the valid top-n; every valid row tying
            # or beating it survives (missing rows only fill the tail when
            # n exceeds the valid count, same as pandas)
            top = (
                sdf.filter(~F.col("__miss__"))
                .orderBy(val_order)
                .limit(n)
                .agg(
                    (F.min if largest else F.max)(_VALUE).alias("__thr__"),
                    F.count(F.lit(1)).alias("__nv__"),
                )
            )
            boundary = (
                F.col(_VALUE) >= F.col("__thr__")
                if largest
                else F.col(_VALUE) <= F.col("__thr__")
            )
            kept = sdf.crossJoin(F.broadcast(top)).filter(
                (~F.col("__miss__") & (F.col("__nv__") > 0) & boundary)
                # when n exceeds the valid count pandas appends the WHOLE
                # missing block (the NaN tail is one boundary tie group —
                # keep='all' never truncates a tie group)
                | (F.col("__miss__") & (F.col("__nv__") < n))
            )
            sdf = kept.drop("__thr__", "__nv__")
            tie_asc = True
        else:
            tie_asc = keep == "first"
            idx_order = F.col(INDEX_COL).asc() if tie_asc else F.col(INDEX_COL).desc()
            sdf = sdf.orderBy(F.col("__miss__").asc(), val_order, idx_order).limit(n)
        internal = InternalFrame(
            sdf,
            INDEX_COL,
            self._internal.index_name,
            (("__miss__", True), ("__sv_ord__", not largest), (INDEX_COL, tie_asc)),
        )
        return Series._from_internal(internal, sdf[_VALUE], self._name)

    def _filter(self, cond: Column) -> "Series":
        # a filter preserves the visible order (r10 composition probe)
        sdf = self._materialized().filter(cond)
        return Series._from_internal(
            InternalFrame(
                sdf,
                INDEX_COL,
                self._internal.index_name,
                self._internal.order_spec,
                row_tokens=self._internal.row_tokens,
            ),
            sdf[_VALUE],
            self._name,
        )

    def __getitem__(self, key):
        if isinstance(key, Series):  # boolean mask — the s[s > 0] idiom
            if key._internal.sdf is self._internal.sdf:
                # project value + mask FIRST, then filter: a window-derived
                # value (s.cumsum()[mask]) must keep its PRE-filter values
                # (r10 composition probe). Catalyst substitutes the mask
                # alias, so plain predicates still push to the scan.
                extras = [
                    n
                    for n, _ in (self._internal.order_spec or ())
                    if n not in (INDEX_COL, _VALUE)
                    and n in self._internal.sdf.columns
                ]
                sdf = (
                    self._internal.sdf.select(
                        self._internal.index_col.alias(INDEX_COL),
                        self._col.alias(_VALUE),
                        *dict.fromkeys(extras),
                        key._col.alias("__mask__"),
                    )
                    .filter(F.col("__mask__"))
                    .drop("__mask__")
                )
                return Series._from_internal(
                    InternalFrame(
                        sdf,
                        INDEX_COL,
                        self._internal.index_name,
                        self._internal.order_spec,
                    ),
                    sdf[_VALUE],
                    self._name,
                )
            # mask from another anchor: align on index first
            mask = key._materialized("__m__").select(INDEX_COL, "__m__")
            sdf = self._materialized().join(mask, INDEX_COL, "inner").filter(F.col("__m__")).drop("__m__")
            return Series._from_internal(
                InternalFrame(
                    sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
                ),
                sdf[_VALUE],
                self._name,
            )
        if isinstance(key, slice):
            return self._positional_slice(key)
        # scalar label lookup → scalar (or Series if duplicated labels)
        rows = self._materialized().filter(F.col(INDEX_COL) == F.lit(key)).collect()
        if len(rows) == 1:
            return rows[0][_VALUE]
        if len(rows) == 0:
            raise KeyError(key)
        import pandas as pd

        return pd.Series([r[_VALUE] for r in rows], index=[r[INDEX_COL] for r in rows], name=self._name)

    def _positional_slice(self, key: slice) -> "Series":
        """Positional slice via row_number over index order. The global
        (unpartitioned) window is deliberate and on-demand only — never part
        of a hot path; pandas-positional semantics fundamentally need a total
        order (SURVEY §7 'hard parts').

        Negative start/stop resolve against the length (one cached count).
        Negative steps (``s[::-1]``, ``s[10:2:-2]``) select the same
        positions as pandas and record a DESCENDING ``order_spec`` on the
        result frame, so materialization (to_pandas/head/repr) shows the
        reversed order without the engine ever storing a reversed table —
        order is metadata here, exactly the property order_spec exists for.

        Positions are always computed over the frame's VISIBLE order
        (``order_spec``), so chained positional ops compose: ``s[::-1][:3]``
        numbers rows descending and returns the last three, and
        ``s[::-1][::-1]`` restores ascending order.
        """
        from pyspark.sql import Window

        step = 1 if key.step is None else key.step
        if step == 0:
            raise ValueError("slice step cannot be zero")
        w = Window.orderBy(*self._internal.order_columns(INDEX_COL))
        cur_spec = self._internal.order_spec
        if step < 0:
            start, stop, step = key.indices(len(self))
            sdf = self._materialized().withColumn("__rn__", F.row_number().over(w) - 1)
            # positions start, start+step, ... (exclusive of stop)
            cond = (
                (F.col("__rn__") <= start)
                & (F.col("__rn__") > stop)
                & ((F.lit(start) - F.col("__rn__")) % F.lit(-step) == 0)
            )
            sdf = sdf.filter(cond).drop("__rn__")
            flipped = tuple((c, not asc) for c, asc in (cur_spec or ((INDEX_COL, True),)))
            # double reverse lands back on plain index order — drop the spec
            # so downstream ops take the no-metadata fast paths
            if flipped == ((INDEX_COL, True),):
                flipped = None
            return Series._from_internal(
                InternalFrame(
                    sdf, INDEX_COL, self._internal.index_name,
                    order_spec=flipped,
                ),
                sdf[_VALUE],
                self._name,
            )
        if (key.start or 0) < 0 or (key.stop is not None and key.stop < 0):
            start, stop, step = key.indices(len(self))
        else:
            start, stop = key.start or 0, key.stop
        sdf = self._materialized().withColumn("__rn__", F.row_number().over(w) - 1)
        cond = F.col("__rn__") >= start
        if stop is not None:
            cond = cond & (F.col("__rn__") < stop)
        if step != 1:
            cond = cond & ((F.col("__rn__") - F.lit(start)) % F.lit(step) == 0)
        sdf = sdf.filter(cond).drop("__rn__")
        return Series._from_internal(
            InternalFrame(sdf, INDEX_COL, self._internal.index_name, order_spec=cur_spec),
            sdf[_VALUE],
            self._name,
        )

    def _positional_take(self, positions: list) -> "Series":
        """iloc with an integer list: keep the rows at those positions, IN
        REQUEST ORDER, duplicates included — full pandas take semantics
        (r10 probe; previously rows came back in visible order and
        duplicate positions collapsed). Positions count over the frame's
        VISIBLE order (``order_spec``), so ``s[::-1].iloc[[0]]`` is the
        last row. Each matched row explodes a literal array of its
        request-ranks (one CASE branch per distinct position — the list is
        driver-sized by construction) and the rank drives the order spec."""
        from pyspark.sql import Window

        sdf = _positional_take_sdf(self, positions)
        return Series._from_internal(
            InternalFrame(
                sdf, INDEX_COL, self._internal.index_name,
                order_spec=(("__take_ord__", True),),
            ),
            sdf[_VALUE],
            self._name,
        )

    @property
    def loc(self):
        return _LocIndexer(self)

    @property
    def iloc(self):
        return _ILocIndexer(self)

    # -- elementwise transforms ----------------------------------------------

    def astype(self, dtype) -> "Series":
        """Cast via the dtype table (core/internal.py). Deliberate,
        documented deviations from pandas (r9 astype probe):

        - float-with-NaN → int: pandas raises IntCastingNaNError; here
          missing stays missing (pandas' nullable 'Int64' behavior — at
          scale a single NaN failing a 100 TB job is hostile, and ANSI
          Spark would otherwise throw mid-executor).
        - integer overflow (300 → int8): pandas 2.x silently WRAPS
          (numpy); here ANSI raises loudly — pandas 3 will raise too.
        - → bool matches pandas TRUTHINESS, not Spark's parse: strings
          by length ('False' is True, '' and None are False), floats
          nonzero-or-NaN (NaN is truthy in Python)."""
        t = to_spark_type(dtype)
        col = self._col
        if t == "boolean":
            src = self._internal.sdf.select(col).schema[0].dataType.simpleString()
            if src == "string":
                col = F.coalesce(F.length(col) > 0, F.lit(False))
            elif src in ("double", "float"):
                col = F.when(col.isNull() | F.isnan(col), F.lit(True)).otherwise(
                    col != 0
                )
            else:
                col = col.cast(t)
            return Series._from_internal(self._internal, col, self._name)
        return Series._from_internal(self._internal, col.cast(t), self._name)

    def isnull(self) -> "Series":
        return Series._from_internal(self._internal, self._col.isNull(), self._name)

    isna = isnull

    def notnull(self) -> "Series":
        return Series._from_internal(self._internal, self._col.isNotNull(), self._name)

    notna = notnull

    def fillna(self, value) -> "Series":
        # pandas-missing = NULL or NaN; a bare coalesce() would leave NaN
        # rows unfilled (found by the r7 probe)
        return Series._from_internal(
            self._internal,
            F.when(self._missing_mask(self._col), F.lit(value)).otherwise(self._col),
            self._name,
        )

    def dropna(self) -> "Series":
        mat = self._materialized()
        return self._filter(~self._missing_mask(F.col(_VALUE), mat))

    def replace(self, to_replace, value=None) -> "Series":
        """pandas replace: dict form maps listed values, a LIST maps every
        listed value to the one replacement (r10 probe), everything else
        passes through unchanged (unlike ``map``, which nulls non-matches).
        A chained CASE expression — stays in codegen, no UDF, no join."""
        if isinstance(to_replace, dict):
            mapping = to_replace
        elif isinstance(to_replace, (list, tuple, set)):
            mapping = {v: value for v in to_replace}
        else:
            mapping = {to_replace: value}
        if not mapping:
            return Series._from_internal(self._internal, self._col, self._name)
        col = None
        for old, new in mapping.items():
            cond = self._col.isNull() if old is None else (self._col == F.lit(old))
            branch = F.when(cond, F.lit(new))
            col = branch if col is None else col.when(cond, F.lit(new))
        return Series._from_internal(
            self._internal, col.otherwise(self._col), self._name
        )

    def duplicated(self, keep: "str | bool" = "first") -> "Series":
        """Boolean duplicate mask, pandas ``keep`` semantics: 'first' marks
        every occurrence after the first (first = lowest index), 'last'
        every one before the last, ``False`` ALL members of any duplicated
        value. One window shuffle on the value either way."""
        from pyspark.sql import Window

        if keep is False:
            w = Window.partitionBy(self._col)
            col = F.count(F.lit(1)).over(w) > 1
        elif keep in ("first", "last"):
            # 'first' = first in the VISIBLE order (r10 composition probe)
            idx_name = self._internal.index_spark_col
            ospec = self._internal.order_spec or ((idx_name, True),)
            order = [
                F.col(n).asc() if (asc == (keep == "first")) else F.col(n).desc()
                for n, asc in ospec
            ]
            w = Window.partitionBy(self._col).orderBy(*order)
            col = F.row_number().over(w) > 1
        else:
            raise ValueError(f"duplicated: keep must be 'first', 'last' or False, got {keep!r}")
        return Series._from_internal(self._internal, col, self._name)

    def isin(self, values: Iterable) -> "Series":
        # pandas: missing rows are False (not NULL) unless the value set
        # itself contains a missing marker, which matches them
        import math as _math

        vals = list(values)
        has_missing = any(
            v is None or (isinstance(v, float) and _math.isnan(v)) for v in vals
        )
        concrete = [
            v
            for v in vals
            if not (v is None or (isinstance(v, float) and _math.isnan(v)))
        ]
        missing = self._missing_mask(self._col)
        base = self._col.isin(concrete) if concrete else F.lit(False)
        col = F.when(missing, F.lit(has_missing)).otherwise(base)
        return Series._from_internal(self._internal, col, self._name)

    def between(self, left, right, inclusive: str = "both") -> "Series":
        # pandas: NaN compares False on both bounds, never NULL
        lo_op = (lambda c: c >= left) if inclusive in ("both", "left") else (lambda c: c > left)
        hi_op = (lambda c: c <= right) if inclusive in ("both", "right") else (lambda c: c < right)
        if inclusive not in ("both", "left", "right", "neither"):
            raise ValueError(f"between: inclusive must be both/left/right/neither, got {inclusive!r}")
        col = F.when(self._missing_mask(self._col), F.lit(False)).otherwise(
            lo_op(self._col) & hi_op(self._col)
        )
        return Series._from_internal(self._internal, col, self._name)

    def clip(self, lower=None, upper=None) -> "Series":
        import math as _math

        # pandas ignores NaN bounds entirely (clip(lower=nan) is a no-op
        # bound); Spark's greatest(col, NaN) would instead turn EVERY row
        # into NaN since NaN orders above all values
        if isinstance(lower, float) and _math.isnan(lower):
            lower = None
        if isinstance(upper, float) and _math.isnan(upper):
            upper = None
        if lower is not None and upper is not None and lower > upper:
            # pandas 2.x sorts inverted bounds (effective lower=min, upper=max)
            lower, upper = upper, lower
        col = self._col
        clipped = col
        if lower is not None:
            clipped = F.greatest(clipped, F.lit(lower))
        if upper is not None:
            clipped = F.least(clipped, F.lit(upper))
        if lower is None and upper is None:
            return Series._from_internal(self._internal, col, self._name)
        # pandas keeps missing values missing; Spark's greatest/least SKIP
        # nulls (null would become the bound) and order NaN above every
        # value (NaN would become the upper bound) — guard both
        missing = self._missing_mask(col)
        return Series._from_internal(
            self._internal, F.when(~missing, clipped), self._name
        )

    def apply(self, func: Callable, args: tuple = (), **kwargs) -> "Series":
        """Arrow-vectorized pandas_udf (the reference: row-at-a-time Python
        over RDD, `series.py:93-100`). The return type is inferred from one
        sampled value — pass a Spark type name via ``return_type=`` to skip
        the sampling job."""
        return self._apply_udf(lambda v: func(v, *args, **kwargs), kwargs.pop("return_type", None))

    def map(self, arg, na_action: str | None = None) -> "Series":
        """callable / dict / Series mapping (the reference ignored na_action
        and raised for dict/Series, `series.py:103-130`)."""
        if callable(arg):
            out = self._apply_udf(arg, None)
            if na_action == "ignore":
                return Series._from_internal(
                    out._internal,
                    F.when(self._col.isNull(), F.lit(None)).otherwise(out._col),
                    self._name,
                )
            return out
        if isinstance(arg, dict):
            if not arg:
                return Series._from_internal(self._internal, F.lit(None), self._name)
            mapping = F.create_map(*[F.lit(x) for kv in arg.items() for x in kv])
            return Series._from_internal(self._internal, mapping[self._col], self._name)
        if isinstance(arg, Series):
            # look up self's VALUES in arg's index
            lookup = arg._materialized("__mapped__").withColumnRenamed(INDEX_COL, "__lk__")
            sdf = (
                self._materialized()
                .join(F.broadcast(lookup), F.col(_VALUE) == F.col("__lk__"), "left")
                .select(INDEX_COL, F.col("__mapped__").alias(_VALUE))
            )
            return Series._from_internal(
                InternalFrame(sdf, INDEX_COL, self._internal.index_name), sdf[_VALUE], self._name
            )
        raise TypeError(f"unsupported map argument: {type(arg)}")

    def _apply_udf(self, func: Callable, return_type: str | None) -> "Series":
        from pontem_spark.core._udf import make_scalar_udf

        if return_type is None:
            sample = self._internal.sdf.select(self._col.alias("v")).first()
            out = func(sample["v"]) if sample is not None else None
            return_type = {
                bool: "boolean", int: "bigint", float: "double", str: "string",
            }.get(type(out), "string")

        u = make_scalar_udf(func, return_type)
        return Series._from_internal(self._internal, u(self._col), self._name)

    # -- dedup / counting ------------------------------------------------------

    def unique(self, max_driver_rows: "int | None" = None) -> list:
        """Distinct values (an action, like pandas returning ndarray).

        Driver-collected by definition — so, like the similarity family's
        build-side guard, a billion-distinct column fails LOUDLY (one cheap
        distinct-count pre-pass) instead of OOMing the driver; stay
        distributed with :meth:`drop_duplicates` when cardinality is high.
        """
        from pontem_spark.core.limits import MAX_DRIVER_ROWS

        if max_driver_rows is None:
            max_driver_rows = MAX_DRIVER_ROWS
        distinct = self._internal.sdf.select(self._col.alias("v")).distinct()
        n = distinct.count()
        if n > max_driver_rows:
            raise ValueError(
                f"Series.unique(): column has {n} distinct values > "
                f"max_driver_rows={max_driver_rows}; the result is driver-"
                "collected. Use drop_duplicates() to stay distributed, or "
                "raise max_driver_rows explicitly."
            )
        return [r[0] for r in distinct.collect()]

    def drop_duplicates(self, keep: "str | bool" = "first") -> "Series":
        """pandas ``keep``: 'first' keeps the lowest-index occurrence,
        'last' the highest, ``False`` drops every duplicated value. One
        groupBy shuffle at distinct-value cardinality either way."""
        if keep not in ("first", "last", False):
            raise ValueError(
                f"drop_duplicates: keep must be 'first', 'last' or False, got {keep!r}"
            )
        mat = self._materialized()
        out_spec = None
        if self._internal.order_spec is not None:
            # survivors are picked and DISPLAYED in the VISIBLE order
            # (sorted().drop_duplicates() keeps the sorted-first row and
            # sorted output order, like pandas — r10 composition probe).
            # One global row_number over the spec, same on-demand scale
            # caveat as rank 'first'.
            from pyspark.sql import Window

            rn = F.row_number().over(
                Window.orderBy(*self._internal.order_columns(INDEX_COL))
            )
            # window first, THEN project: the spec helper columns it
            # references live on the materialized frame
            mat = mat.withColumn("__rn__", rn).select(INDEX_COL, _VALUE, "__rn__")
            grouped = mat.groupBy(_VALUE)
            if keep is False:
                sdf = (
                    grouped.agg(
                        F.min(INDEX_COL).alias(INDEX_COL),
                        F.min("__rn__").alias("__dd_ord__"),
                        F.count(F.lit(1)).alias("__n__"),
                    )
                    .filter(F.col("__n__") == 1)
                    .drop("__n__")
                )
            else:
                pick, pord = (F.min_by, F.min) if keep == "first" else (F.max_by, F.max)
                sdf = grouped.agg(
                    pick(INDEX_COL, F.col("__rn__")).alias(INDEX_COL),
                    pord("__rn__").alias("__dd_ord__"),
                )
            out_spec = (("__dd_ord__", True),)
        else:
            grouped = mat.groupBy(_VALUE)
            if keep is False:
                sdf = (
                    grouped.agg(
                        F.min(INDEX_COL).alias(INDEX_COL),
                        F.count(F.lit(1)).alias("__n__"),
                    )
                    .filter(F.col("__n__") == 1)
                    .drop("__n__")
                )
            else:
                pick = F.min if keep == "first" else F.max
                sdf = grouped.agg(pick(INDEX_COL).alias(INDEX_COL))
        return Series._from_internal(
            InternalFrame(sdf, INDEX_COL, self._internal.index_name, out_spec),
            sdf[_VALUE],
            self._name,
        )

    def value_counts(
        self,
        normalize: bool = False,
        sort: bool = True,
        ascending: bool = False,
        dropna: bool = True,
    ) -> "Series":
        from pyspark.sql import Window

        mat = self._materialized()
        if dropna:  # pandas default: missing values are not a bucket
            mat = mat.filter(~self._missing_mask(F.col(_VALUE), mat))
        sdf = (
            mat
            .groupBy(F.col(_VALUE).alias(INDEX_COL))
            .agg(F.count(F.lit(1)).alias(_VALUE))
        )
        if normalize:
            # one unpartitioned window over the (already tiny) aggregate —
            # K distinct values, never the raw data
            total = F.sum(_VALUE).over(Window.partitionBy())
            sdf = sdf.select(INDEX_COL, (F.col(_VALUE) / total).alias(_VALUE))
        # pandas returns rows in COUNT order (desc by default, asc flag
        # flips it) — r9 probe: a plan-level orderBy here was overridden
        # by the default index sort at materialization points, so the
        # order must live in the order_spec. Ties break by value label
        # (deterministic cross-engine; pandas uses first-appearance order,
        # which is positional and not reproducible distributed).
        # The spec keys a DEDICATED helper column, not _VALUE: _VALUE is
        # the rebindable value alias, so a derived series (vc * -1,
        # vc.round()) would re-materialize sorted by the DERIVED
        # expression instead of the counts (r10 ADVICE fix).
        name = "proportion" if normalize else "count"
        sdf = sdf.withColumn("__vc_ord__", F.col(_VALUE))
        # sort=False: pandas keeps first-appearance order (positional, not
        # reproducible distributed) — deliberate deviation: value-label
        # order, same contract as the other positional-order deviations
        spec = (
            (("__vc_ord__", ascending), (INDEX_COL, True))
            if sort
            else ((INDEX_COL, True),)
        )
        return Series._from_internal(
            InternalFrame(sdf, INDEX_COL, self._name, order_spec=spec),
            sdf[_VALUE],
            name,
        )

    # window-style transforms --------------------------------------------------

    def cumsum(self) -> "Series":
        return self._cum(F.sum)

    def shift(self, periods: int = 1, fill_value=None) -> "Series":
        """``fill_value`` fills the vacated edge positions (pandas keeps
        the column's dtype then instead of upcasting to float).

        A window-free value column shifts ON ITS OWN ANCHOR (no
        materialization), so the result stays same-anchor with its source
        and ``s - s.shift(1)`` / ``f[c] = s.shift(1)`` compose without a
        join — the only pairing that is exact when duplicate index labels
        tie on every order-spec column (r13 probe: the label+helper join
        fanned 1540 rows to 2294 on a non-total sort key)."""
        from pyspark.sql import Window

        if _window_free(self._col):
            w = Window.orderBy(
                *self._internal.order_columns(self._internal.index_spark_col)
            )
            col = (
                F.lag(self._col, periods, fill_value).over(w)
                if periods >= 0
                else F.lead(self._col, -periods, fill_value).over(w)
            )
            return Series._from_internal(self._internal, col, self._name)
        sdf = self._materialized()
        w = Window.orderBy(*self._internal.order_columns(INDEX_COL))
        col = (
            F.lag(sdf[_VALUE], periods, fill_value).over(w)
            if periods >= 0
            else F.lead(sdf[_VALUE], -periods, fill_value).over(w)
        )
        res = Series._from_internal(
            InternalFrame(
                sdf,
                INDEX_COL,
                self._internal.index_name,
                self._internal.order_spec,
                row_tokens=self._internal.row_tokens,
            ),
            col,
            self._name,
        )
        res._mat_source = self  # _mat_pair: source value is _VALUE here
        return res

    def where(self, cond: "Series", other=None) -> "Series":
        """Keep values where cond holds, else ``other`` (pandas.where).
        cond/other from a different anchor are aligned on index (left join
        from self — the result keeps self's index, like pandas)."""
        return self._where_impl(cond, other, invert=False)

    def mask(self, cond: "Series", other=None) -> "Series":
        """Replace values where cond holds (pandas.mask). A missing/
        misaligned cond fills with TRUE — i.e. REPLACE — pandas' documented
        alignment rule ('misaligned index positions will be filled with
        True' for mask, False for where; r10 probe corrected the earlier
        missing-keeps reading)."""
        return self._where_impl(cond, other, invert=True)

    def _where_impl(self, cond: "Series", other, invert: bool) -> "Series":
        same_cond = cond._internal.sdf is self._internal.sdf
        other_is_series = isinstance(other, Series)
        same_other = (not other_is_series) or other._internal.sdf is self._internal.sdf
        # pandas: missing cond fills with False for where, True for mask —
        # both ways the row is REPLACED
        cond_fill = F.lit(True) if invert else F.lit(False)
        if same_cond and same_other:
            keep = F.coalesce(cond._col, cond_fill)
            keep = ~keep if invert else keep
            repl = other._col if other_is_series else F.lit(other)
            return Series._from_internal(
                self._internal, F.when(keep, self._col).otherwise(repl), self._name
            )
        # foreign anchor(s): align on index; self's index drives the
        # result. Row-aligned derivations (s.where(s.shift() > x)) join
        # on the shared order-spec helpers too, so duplicate index labels
        # stay positional (r12 probe batch 4).
        sdf = self._materialized("__v__")
        cmat = cond._materialized("__c__")
        ckeys = rowalign_keys(self._internal, cond._internal, sdf, cmat)
        sdf = _rowalign_left_join(
            sdf, cmat.select(INDEX_COL, *ckeys, "__c__"), ckeys, "__c__"
        )
        if other_is_series:
            omat = other._materialized("__o__")
            okeys = rowalign_keys(self._internal, other._internal, sdf, omat)
            sdf = _rowalign_left_join(
                sdf, omat.select(INDEX_COL, *okeys, "__o__"), okeys, "__o__"
            )
            repl = sdf["__o__"]
        else:
            repl = F.lit(other)
        keep = F.coalesce(sdf["__c__"], cond_fill)
        keep = ~keep if invert else keep
        return Series._from_internal(
            InternalFrame(
                sdf,
                INDEX_COL,
                self._internal.index_name,
                self._internal.order_spec,
                row_tokens=self._internal.row_tokens,
            ),
            F.when(keep, sdf["__v__"]).otherwise(repl),
            self._name,
        )

    def to_frame(self, name: Any = None):
        from pontem_spark.core.frame import DataFrame as PFrame

        col_name = name if name is not None else (self._name if self._name is not None else 0)
        return PFrame._from_internal(self._internal, {str(col_name): self._col})

    def diff(self, periods: int = 1) -> "Series":
        return self - self.shift(periods)

    def pct_change(self, periods: int = 1, fill_method: str | None = "pad") -> "Series":
        # pandas (2.x default) forward-fills non-leading missing values
        # BEFORE differencing: a NaN row compares against the last real
        # value (yielding 0.0 if nothing changed), and the next real row
        # compares against that same carried value. fill_method=None is the
        # announced future default: no fill, NaN rows poison both
        # comparisons they take part in.
        if fill_method is None:
            prev = self.shift(periods)
            return (self - prev) / prev
        from pyspark.sql import Window

        if _window_free(self._col):
            # same-anchor composition — see shift(); Spark 4 extracts the
            # lag-of-last nesting into stacked Window nodes
            _ord = self._internal.order_columns(self._internal.index_spark_col)
            w = Window.orderBy(*_ord).rowsBetween(Window.unboundedPreceding, 0)
            missing = self._missing_mask(self._col)
            clean = F.when(missing, F.lit(None)).otherwise(self._col)
            filled = F.last(clean, ignorenulls=True).over(w)
            prev = F.lag(filled, periods).over(Window.orderBy(*_ord))
            col = truediv_cols(filled, prev) - 1
            return Series._from_internal(self._internal, col, self._name)
        _ord = self._internal.order_columns(INDEX_COL)
        w = Window.orderBy(*_ord).rowsBetween(Window.unboundedPreceding, 0)
        sdf = self._materialized()
        missing = self._missing_mask(sdf[_VALUE], sdf)
        clean = F.when(missing, F.lit(None)).otherwise(sdf[_VALUE])
        filled = F.last(clean, ignorenulls=True).over(w)
        prev = F.lag(filled, periods).over(Window.orderBy(*_ord))
        # guarded division: a zero previous value must yield pandas' ±inf/
        # NaN, not Spark 4's ANSI DIVIDE_BY_ZERO throw (fuzz: [0.0, 0.0]).
        # pandas computes v/prev - 1, not (v-prev)/prev — same algebra but
        # different last-ulp floats, so mirror its operation order
        col = truediv_cols(filled, prev) - 1
        res = Series._from_internal(
            InternalFrame(
                sdf,
                INDEX_COL,
                self._internal.index_name,
                self._internal.order_spec,
                row_tokens=self._internal.row_tokens,
            ),
            col,
            self._name,
        )
        res._mat_source = self  # _mat_pair: source value is _VALUE here
        return res

    def _cum(self, aggfn) -> "Series":
        """Cumulative agg with pandas skipna semantics: missing positions
        stay missing, and missing values never enter the running state
        (Spark's NaN would otherwise poison a running max as the largest
        value; its null is skipped by the agg but pandas keeps the output
        slot NaN)."""
        from pyspark.sql import Window

        if _window_free(self._col):
            # same-anchor composition — see shift(): exact positional
            # pairing for downstream binops/setitem, zero joins
            w = Window.orderBy(
                *self._internal.order_columns(self._internal.index_spark_col)
            ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
            v = self._col
            missing = self._missing_mask(v)
            col = F.when(~missing, aggfn(F.when(~missing, v)).over(w))
            return Series._from_internal(self._internal, col, self._name)
        w = Window.orderBy(*self._internal.order_columns(INDEX_COL)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        sdf = self._materialized()
        v = sdf[_VALUE]
        missing = self._missing_mask(v, sdf)
        col = F.when(~missing, aggfn(F.when(~missing, v)).over(w))
        res = Series._from_internal(
            InternalFrame(
                sdf,
                INDEX_COL,
                self._internal.index_name,
                self._internal.order_spec,
                row_tokens=self._internal.row_tokens,
            ),
            col,
            self._name,
        )
        res._mat_source = self  # _mat_pair: source value is _VALUE here
        return res

    def cummax(self) -> "Series":
        return self._cum(F.max)

    def cummin(self) -> "Series":
        return self._cum(F.min)

    def cumprod(self) -> "Series":
        return self._cum(F.product)

    def prod(self):
        """Product of non-missing values; empty/all-missing → 1.0 (pandas
        min_count=0 identity)."""
        v = self._agg(F.product(self._valid_col))
        return 1.0 if v is None else v

    def sem(self, ddof: int = 1):
        """Standard error of the mean: std(ddof)/sqrt(n) in ONE pass."""
        import math

        row = self._internal.sdf.select(
            (F.stddev_samp(self._valid_col) if ddof == 1 else F.stddev_pop(self._valid_col)).alias("s"),
            F.count(self._valid_col).alias("n"),
        ).first()
        if row["s"] is None or row["n"] == 0:
            return float("nan")
        return row["s"] / math.sqrt(row["n"])

    def skew(self):
        """pandas adjusted Fisher-Pearson skewness G1 = g1·√(n(n−1))/(n−2),
        with g1 Spark's population skewness — one aggregation pass; n<3 →
        NaN like pandas."""
        import math

        row = self._internal.sdf.select(
            F.skewness(self._valid_col).alias("g"),
            F.count(self._valid_col).alias("n"),
        ).first()
        n = row["n"]
        if n < 3:
            return float("nan")
        if row["g"] is None:
            # Spark skewness() is NULL on zero variance; pandas says 0.0
            return 0.0
        return row["g"] * math.sqrt(n * (n - 1)) / (n - 2)

    def kurt(self):
        """pandas adjusted excess kurtosis G2 = (n−1)/((n−2)(n−3)) ·
        ((n+1)·g2 + 6), with g2 Spark's excess kurtosis; n<4 → NaN."""
        row = self._internal.sdf.select(
            F.kurtosis(self._valid_col).alias("g"),
            F.count(self._valid_col).alias("n"),
        ).first()
        n = row["n"]
        if n < 4:
            return float("nan")
        if row["g"] is None:
            # Spark kurtosis() is NULL on zero variance; pandas says 0.0
            return 0.0
        return (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * row["g"] + 6)

    kurtosis = kurt

    def combine_first(self, other: "Series") -> "Series":
        """self's non-missing values, holes filled from ``other``; index =
        union of both. Routed through the shared row aligner so the
        result ORDER follows the same pandas rule as arithmetic
        alignment: identical visible sequences keep their order, anything
        else re-sorts to the union index (r12 probe batch 4 — the old
        direct join dropped the order spec and always displayed
        index-sorted)."""
        internal, finish, adt, _ = self._align(other)
        a = internal.sdf["__a__"]
        col = finish(F.coalesce(F.when(~missing(a, adt), a), internal.sdf["__b__"]))
        return Series._from_internal(internal, col, self._name)  # keeps self's name

    def unstack(self):
        """2-level MultiIndexed Series (struct index, e.g. from a
        two-key groupby) → DataFrame: first level becomes the index,
        second level's values become columns — ``groupBy(l0).pivot(l1)``
        (pivot runs one small distinct job to discover the columns)."""
        from pontem_spark.core.frame import DataFrame

        sdf = self._materialized()
        idx_type = dict(sdf.dtypes)[INDEX_COL]
        if not idx_type.startswith("struct"):
            raise ValueError("unstack needs a 2-level MultiIndexed Series")
        fields = sdf.select(f"{INDEX_COL}.*").columns
        if len(fields) != 2:
            raise ValueError(
                f"unstack supports exactly 2 index levels, got {len(fields)}"
            )
        l0, l1 = fields
        flat = sdf.select(
            F.col(f"{INDEX_COL}.{l0}").alias("__l0__"),
            F.col(f"{INDEX_COL}.{l1}").alias("__l1__"),
            F.col(_VALUE).alias("__v__"),
        )
        wide = flat.groupBy("__l0__").pivot("__l1__").agg(F.first("__v__"))
        cols = [c for c in wide.columns if c != "__l0__"]
        names = self._internal.index_name
        iname = names[0] if isinstance(names, tuple) else None
        internal = InternalFrame(
            wide.withColumnRenamed("__l0__", "__index__"), "__index__", iname
        )
        return DataFrame._from_internal(internal, {c: wide[c] for c in cols})

    def searchsorted(self, value, side: str = "left") -> int:
        """Insertion position keeping the VALUES sorted — a count
        aggregate (elements strictly below for 'left', ≤ for 'right'),
        never a sort."""
        if side not in ("left", "right"):
            raise ValueError(f"side must be 'left' or 'right', got {side!r}")
        v = self._valid_col
        pred = (v < F.lit(value)) if side == "left" else (v <= F.lit(value))
        row = self._internal.sdf.select(
            F.count(F.when(pred, 1)).alias("n")
        ).first()
        return int(row["n"])

    def repeat(self, repeats: int) -> "Series":
        """Each element ``repeats`` times, index labels duplicated
        adjacently like pandas — a map-side Generate (explode of
        array_repeat), zero shuffles."""
        if repeats < 0:
            raise ValueError("repeats must be non-negative")
        mat = self._materialized()
        extras = [
            n
            for n, _ in (self._internal.order_spec or ())
            if n not in (INDEX_COL, _VALUE) and n in mat.columns
        ]
        epos = next_epos_name(self._internal.order_spec)
        sdf = mat.select(
            INDEX_COL,
            *dict.fromkeys(extras),
            F.posexplode(F.array_repeat(F.col(_VALUE), repeats)).alias(
                epos, _VALUE
            ),
        )
        spec = (self._internal.order_spec or ((INDEX_COL, True),)) + (
            (epos, True),
        )
        internal = InternalFrame(sdf, INDEX_COL, self._internal.index_name, spec)
        return Series._from_internal(internal, sdf[_VALUE], self._name)

    def explode(self) -> "Series":
        """Array-valued Series → one row per element with the index label
        duplicated; empty/NULL arrays keep one missing row
        (explode_outer — pandas' rule)."""
        mat = self._materialized()
        if not isinstance(mat.schema[_VALUE].dataType, ArrayType):
            # pandas explodes per-ELEMENT: a series with no array values
            # (e.g. a prior explode flattened everything) passes through
            return self.copy()
        extras = [
            n
            for n, _ in (self._internal.order_spec or ())
            if n not in (INDEX_COL, _VALUE) and n in mat.columns
        ]
        epos = next_epos_name(self._internal.order_spec)
        sdf = mat.select(
            INDEX_COL,
            *dict.fromkeys(extras),
            F.posexplode_outer(F.col(_VALUE)).alias(epos, _VALUE),
        )
        spec = (self._internal.order_spec or ((INDEX_COL, True),)) + (
            (epos, True),
        )
        internal = InternalFrame(sdf, INDEX_COL, self._internal.index_name, spec)
        return Series._from_internal(internal, sdf[_VALUE], self._name)

    def _pairwise(self, other: "Series"):
        """Outer-align two series on the index (the combine_first join)
        and return the joined frame with both value columns NaN-blanked —
        the pairwise-complete base for corr/cov/dot."""
        a = self._materialized("__a__")
        b = other._materialized("__b__")
        jcond = F.col(f"l.{INDEX_COL}") == F.col(f"r.{INDEX_COL}")
        for n in rowalign_keys(self._internal, other._internal, a, b):
            jcond = jcond & F.col(f"l.{n}").eqNullSafe(F.col(f"r.{n}"))
        joined = a.alias("l").join(b.alias("r"), jcond, "full_outer")
        sdf = joined.select(
            F.col("l.__a__").alias("__a__"), F.col("r.__b__").alias("__b__")
        )
        va = F.when(~self._missing_mask(sdf["__a__"], sdf), sdf["__a__"])
        vb = F.when(~other._missing_mask(sdf["__b__"], sdf), sdf["__b__"])
        return sdf, va, vb

    def corr(self, other: "Series") -> float:
        """Pearson correlation over pairwise-complete observations (both
        non-missing) — one join + one aggregate."""
        sdf, va, vb = self._pairwise(other)
        both = va.isNotNull() & vb.isNotNull()
        row = sdf.select(
            F.corr(F.when(both, va), F.when(both, vb)).alias("c")
        ).first()
        return float("nan") if row["c"] is None else row["c"]

    def cov(self, other: "Series", ddof: int = 1) -> float:
        """Covariance over pairwise-complete observations."""
        sdf, va, vb = self._pairwise(other)
        both = va.isNotNull() & vb.isNotNull()
        fn = F.covar_samp if ddof == 1 else F.covar_pop
        if ddof not in (0, 1):
            raise ValueError("ddof must be 0 or 1")
        row = sdf.select(fn(F.when(both, va), F.when(both, vb)).alias("c")).first()
        return float("nan") if row["c"] is None else row["c"]

    def dot(self, other: "Series") -> float:
        """Σ aᵢ·bᵢ over index-aligned pairs; any missing value poisons the
        result to NaN (pandas NaN arithmetic)."""
        sdf, va, vb = self._pairwise(other)
        row = sdf.select(
            F.sum(va * vb).alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(va.isNotNull() & vb.isNotNull(), 1)).alias("k"),
        ).first()
        if row["n"] != row["k"] or row["s"] is None:
            return float("nan")
        return row["s"]

    def mode(self) -> "Series":
        """Most frequent value(s), sorted ascending with a fresh 0..k-1
        index like pandas (ties all returned). One value-level aggregate +
        a max over the tiny count frame — never a sort of the raw rows."""
        from pyspark.sql import Window

        m = self._materialized()
        counts = (
            m.filter(~self._missing_mask(m[_VALUE], m))
            .groupBy(_VALUE)
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        top = counts.withColumn(
            "__m", F.max("__c").over(Window.partitionBy())
        ).filter(F.col("__c") == F.col("__m"))
        sdf = top.select(
            (F.row_number().over(Window.orderBy(F.col(_VALUE).asc())) - 1).alias(
                INDEX_COL
            ),
            F.col(_VALUE),
        )
        return Series._from_internal(
            InternalFrame(sdf, INDEX_COL, None), sdf[_VALUE], self._name
        )

    def autocorr(self, lag: int = 1):
        """Lag-N Pearson autocorrelation (pandas.Series.autocorr): the
        series joined to itself shifted by ``lag`` positions, correlated —
        one window shuffle for the shift, one scalar aggregate."""
        shifted = self.shift(lag)
        sdf = self._materialized().join(
            shifted._materialized("__lagged"), INDEX_COL
        )
        # pandas drops NaN pairs; Spark's corr skips nulls but lets NaN
        # propagate through the Pearson aggregate — null out NaN first
        v = F.when(~self._missing_mask(sdf[_VALUE], sdf), sdf[_VALUE])
        lagged = F.when(~self._missing_mask(sdf["__lagged"], sdf), sdf["__lagged"])
        row = sdf.agg(F.corr(v, lagged)).first()
        return row[0] if row and row[0] is not None else float("nan")

    def rank(
        self,
        method: str = "average",
        ascending: bool = True,
        pct: bool = False,
        na_option: str = "keep",
    ) -> "Series":
        """pandas rank: 'average' (the pandas default), 'min', 'max',
        'dense', or 'first'. ``na_option``: 'keep' ranks missing as
        missing; 'top'/'bottom' rank the whole missing block as one tie
        group before/after every valid value (float64 result, like
        pandas). ``pct=True`` rescales to (0, 1]: by the non-missing row
        count under 'keep' ('dense': by the DISTINCT value count), by the
        TOTAL row count under 'top'/'bottom' ('dense': distinct values
        plus one bucket for the missing block).

        Scale shape: average/min/max/dense are derived on the
        DISTINCT-VALUE frame — one groupBy shuffle at value_counts
        cardinality, a single unpartitioned window over the K distinct
        values (K rows, never the raw data), then an equi-join back on the
        value; 'top'/'bottom'/pct add one broadcast 1-row stats frame. No
        full-row global sort anywhere. 'first' (appearance-order
        tie-break) genuinely needs per-row positions, so it keeps the
        on-demand global window (same scale caveat as _positional_slice).
        """
        from pyspark.sql import Window

        if na_option not in ("keep", "top", "bottom"):
            raise ValueError(
                f"rank: na_option must be 'keep', 'top' or 'bottom', got {na_option!r}"
            )
        sdf = self._materialized()
        # pandas treats NaN as missing; Spark distinguishes NULL from NaN
        # (a float Series built from None may carry either), so exclude both
        present = ~self._missing_mask(sdf[_VALUE], sdf)

        if method == "first":
            val_order = F.col(_VALUE).asc() if ascending else F.col(_VALUE).desc()
            # the missing block sorts at the chosen end ('keep' excludes it,
            # so it must not inflate ranked rows — it sorts last)
            lead = (
                F.col("__p").asc() if na_option == "top" else F.col("__p").desc()
            )
            w = Window.orderBy(lead, val_order, F.col(INDEX_COL).asc())
            sdf2 = sdf.withColumn("__p", present)
            rn = F.row_number().over(w)
            col = (
                rn if na_option != "keep" else F.when(F.col("__p"), rn)
            ).cast("double")
            if pct:
                denom = (
                    F.sum(F.col("__p").cast("long")).over(Window.partitionBy())
                    if na_option == "keep"
                    else F.count(F.lit(1)).over(Window.partitionBy())
                )
                col = col / denom
            return Series._from_internal(
                InternalFrame(sdf2, INDEX_COL, self._internal.index_name),
                col,
                self._name,
            )
        if method not in ("average", "min", "max", "dense"):
            raise ValueError(
                f"rank method {method!r} (use 'average', 'min', 'max', 'dense', or 'first')"
            )

        per_val = (
            sdf.filter(present)
            .groupBy(F.col(_VALUE).alias("__v"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        order = F.col("__v").asc() if ascending else F.col("__v").desc()
        cum = F.sum("__c").over(
            Window.orderBy(order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        before = cum - F.col("__c")
        if method == "average":
            r = before + (F.col("__c") + 1) / 2.0
        elif method == "min":
            r = before + 1
        elif method == "max":
            r = cum
        else:  # dense
            r = F.row_number().over(Window.orderBy(order))
        ranked = per_val.select("__v", r.cast("double").alias("__r"))
        joined = sdf.join(ranked, sdf[_VALUE] == ranked["__v"], "left")

        need_stats = pct or na_option != "keep"
        if need_stats:
            # one broadcast 1-row stats frame: missing rows, valid rows,
            # distinct valid values — partial-agg combinable, no window
            # over the raw data
            stats = sdf.agg(
                F.coalesce(F.sum((~present).cast("long")), F.lit(0)).alias("__m"),
                F.coalesce(F.sum(present.cast("long")), F.lit(0)).alias("__n"),
                F.count_distinct(F.when(present, sdf[_VALUE])).alias("__k"),
            )
            joined = joined.crossJoin(F.broadcast(stats))
            m, nv, k = F.col("__m"), F.col("__n"), F.col("__k")
            if na_option == "top":
                shift = F.when(m > 0, F.lit(1)).otherwise(F.lit(0)) if method == "dense" else m
                valid_r = F.col("__r") + shift
                fill = {
                    "average": (m + 1) / 2.0,
                    "min": F.lit(1.0),
                    "max": m.cast("double"),
                    "dense": F.lit(1.0),
                }[method]
            elif na_option == "bottom":
                valid_r = F.col("__r")
                fill = {
                    "average": nv + (m + 1) / 2.0,
                    "min": (nv + 1).cast("double"),
                    "max": (nv + m).cast("double"),
                    "dense": (k + 1).cast("double"),
                }[method]
            else:
                valid_r = F.col("__r")
                fill = F.lit(None)
            final = F.when(F.col("__r").isNotNull(), valid_r.cast("double")).otherwise(fill)
            if pct:
                if na_option == "keep":
                    denom = k if method == "dense" else nv
                else:
                    denom = (
                        k + F.when(m > 0, F.lit(1)).otherwise(F.lit(0))
                        if method == "dense"
                        else nv + m
                    )
                final = final / denom
        else:
            final = F.col("__r")
        extras = [
            n
            for n, _ in (self._internal.order_spec or ())
            if n not in (INDEX_COL, _VALUE) and n in joined.columns
        ]
        joined = joined.select(
            INDEX_COL,
            *dict.fromkeys(extras),
            final.cast("double").alias("__r"),
        )
        return Series._from_internal(
            InternalFrame(
                joined, INDEX_COL, self._internal.index_name, self._internal.order_spec
            ),
            joined["__r"],
            self._name,
        )

    def _idx_extreme(self, descending: bool) -> Any:
        # skipna like pandas: NaN/NULL rows can never be the arg-extreme
        # (Spark sorts NaN as the LARGEST double, so an unfiltered ascending
        # order is safe but a descending one would hand idxmax the NaN row;
        # filter missing outright so both directions share one shape)
        mat = self._materialized()
        mat = mat.filter(~self._missing_mask(F.col(_VALUE), mat))
        order = F.col(_VALUE).desc() if descending else F.col(_VALUE).asc()
        row = mat.orderBy(order, F.col(INDEX_COL)).select(INDEX_COL).first()
        if row is None:  # pandas raises on all-missing input
            raise ValueError("attempt to get argmax of an empty sequence")
        return row[0]

    def idxmax(self):
        return self._idx_extreme(descending=True)

    def idxmin(self):
        return self._idx_extreme(descending=False)

    def sample(
        self,
        frac: float | None = None,
        n: int | None = None,
        seed: int | None = None,
        random_state: int | None = None,
    ) -> "Series":
        """pandas-shaped sampling: ``frac`` maps to Spark's Bernoulli
        sample (approximate row count, exact at scale); ``n`` draws an
        EXACT count deterministically by rank of md5(index, seed) — the
        engine's content-deterministic sampling idiom, reproducible across
        cluster sizes, one TakeOrderedAndProject."""
        seed = random_state if random_state is not None else seed
        if (frac is None) == (n is None):
            raise ValueError("sample: pass exactly one of frac= or n=")
        if frac is not None:
            if seed is None:  # pandas: no seed = a fresh draw per call
                sdf = self._materialized().sample(fraction=frac)
            else:
                # seeded draws are CONTENT-deterministic (md5 of index ⊕
                # seed < frac) — reproducible across calls, cluster sizes
                # and engines, unlike Spark's per-partition Bernoulli,
                # which re-rolls when partitioning shifts (r10 probe:
                # two identical seeded calls disagreed)
                mat = self._materialized()
                u = F.conv(
                    F.substring(
                        F.md5(F.concat_ws("\x1f", F.col(INDEX_COL).cast("string"), F.lit(str(seed)))),
                        1, 15,
                    ),
                    16, 10,
                ).cast("double") / float(16 ** 15)
                sdf = mat.filter(u < F.lit(float(frac)))
            return Series._from_internal(
                InternalFrame(
                    sdf, INDEX_COL, self._internal.index_name, self._internal.order_spec
                ),
                sdf[_VALUE],
                self._name,
            )
        mat = self._materialized()
        key = F.md5(F.concat_ws("\x1f", F.col(INDEX_COL).cast("string"), F.lit(str(seed))))
        sdf = mat.orderBy(key).limit(n)
        return Series._from_internal(
            InternalFrame(sdf, INDEX_COL, self._internal.index_name), sdf[_VALUE], self._name
        )

    def agg(self, funcs):
        """'sum' | ['sum', 'mean', ...] → scalar or pandas Series, computed
        in ONE aggregation pass."""
        import pandas as pd

        single = isinstance(funcs, str)
        names = [funcs] if single else list(funcs)
        mapping = {
            "sum": F.sum, "mean": F.mean, "min": F.min, "max": F.max,
            "count": F.count, "std": F.stddev_samp, "var": F.var_samp,
            "median": lambda c: F.percentile(c, F.lit(0.5)),
            "nunique": F.count_distinct,
        }
        v = self._valid_col  # pandas skipna, same as the named reductions
        row = self._internal.sdf.select(
            *[mapping[n](v).alias(n) for n in names]
        ).first()
        return row[0] if single else pd.Series({n: row[n] for n in names}, name=self._name)

    def rolling(self, window: int, min_periods: "int | None" = None):
        from pontem_spark.core.window import Rolling

        return Rolling(self, window, min_periods)

    def ewm(
        self,
        com: float | None = None,
        span: float | None = None,
        halflife: float | None = None,
        alpha: float | None = None,
        adjust: bool = True,
        ignore_na: bool = False,
        min_periods: int = 0,
    ):
        from pontem_spark.core.window import Ewm

        return Ewm(self, com, span, halflife, alpha, adjust, ignore_na, min_periods)

    def ffill(self) -> "Series":
        """Forward-fill missing (NULL or NaN) from the last valid value in
        index order; leading missing stay missing. One ignore-nulls window
        scan (the gapfill shape)."""
        return self._directional_fill(forward=True)

    def bfill(self) -> "Series":
        """Backward-fill missing from the next valid value; trailing
        missing stay missing."""
        return self._directional_fill(forward=False)

    def _directional_fill(self, forward: bool) -> "Series":
        from pyspark.sql import Window

        if _window_free(self._col):
            # same-anchor composition — the r13 positional-op rule:
            # v - v.ffill() / setitem compose column-wise, zero joins
            v = self._col
            missing = self._missing_mask(v)
            _ord = self._internal.order_columns(self._internal.index_spark_col)
            if forward:
                w = Window.orderBy(*_ord).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
                col = F.last(F.when(~missing, v), ignorenulls=True).over(w)
            else:
                w = Window.orderBy(*_ord).rowsBetween(
                    Window.currentRow, Window.unboundedFollowing
                )
                col = F.first(F.when(~missing, v), ignorenulls=True).over(w)
            return Series._from_internal(self._internal, col, self._name)
        sdf = self._materialized()
        v = sdf[_VALUE]
        missing = self._missing_mask(v, sdf)
        _ord = self._internal.order_columns(INDEX_COL)
        if forward:
            w = Window.orderBy(*_ord).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            col = F.last(F.when(~missing, v), ignorenulls=True).over(w)
        else:
            w = Window.orderBy(*_ord).rowsBetween(
                Window.currentRow, Window.unboundedFollowing
            )
            col = F.first(F.when(~missing, v), ignorenulls=True).over(w)
        res = Series._from_internal(
            InternalFrame(
                sdf,
                INDEX_COL,
                self._internal.index_name,
                self._internal.order_spec,
                row_tokens=self._internal.row_tokens,
            ),
            col,
            self._name,
        )
        res._mat_source = self  # _mat_pair: source value is _VALUE here
        return res

    def interpolate(self, method: str = "linear", limit: "int | None" = None) -> "Series":
        """pandas-default linear interpolation by POSITION (values treated
        as equally spaced): each interior missing run is filled linearly
        between its surrounding valid values, leading missing stay
        missing, and trailing missing carry the last valid value forward
        (pandas' ``limit_direction='forward'`` default, which quietly
        degrades extrapolation to ffill). ``limit`` caps how many
        consecutive missing rows get filled per run, counted forward from
        the last valid value (r8 probe). Two ignore-nulls window scans
        (last-before + first-after, the operators/timeseries.py gapfill
        shape) — all Catalyst, no UDF. Result dtype is double, like
        pandas' float64."""
        if method != "linear":
            raise ValueError("interpolate: only method='linear' is implemented")
        if limit is not None and (not isinstance(limit, int) or limit <= 0):
            raise ValueError("interpolate: limit must be a positive integer")
        from pyspark.sql import Window

        mat = self._materialized()
        sdf = mat.select(
            INDEX_COL,
            _VALUE,
            F.row_number().over(
                Window.orderBy(*self._internal.order_columns(INDEX_COL))
            ).alias("__pos"),
        )
        v = sdf[_VALUE]
        missing = self._missing_mask(v, sdf)
        valid_v = F.when(~missing, v.cast("double"))
        valid_p = F.when(~missing, sdf["__pos"])
        wb = Window.orderBy("__pos").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wf = Window.orderBy("__pos").rowsBetween(Window.currentRow, Window.unboundedFollowing)
        prev_v = F.last(valid_v, ignorenulls=True).over(wb)
        prev_p = F.last(valid_p, ignorenulls=True).over(wb)
        next_v = F.first(valid_v, ignorenulls=True).over(wf)
        next_p = F.first(valid_p, ignorenulls=True).over(wf)
        frac = (sdf["__pos"] - prev_p).cast("double") / (next_p - prev_p).cast("double")
        gate = F.lit(True) if limit is None else (sdf["__pos"] - prev_p) <= limit
        col = (
            F.when(~missing, v.cast("double"))
            .when(
                prev_v.isNotNull() & next_v.isNotNull() & gate,
                prev_v + (next_v - prev_v) * frac,
            )
            .when(prev_v.isNotNull() & gate, prev_v)  # trailing run: ffill
            # leading run: stays null → NaN in pandas
        )
        return Series._from_internal(
            # __pos IS the visible order — carry it as the output spec
            InternalFrame(
                sdf, INDEX_COL, self._internal.index_name, (("__pos", True),)
            ),
            col,
            self._name,
        )

    # everyday pandas conveniences (r7 batch) ---------------------------------

    @property
    def ndim(self) -> int:
        return 1

    @property
    def size(self) -> int:
        return len(self)

    @property
    def is_unique(self) -> bool:
        """One aggregate job: count == count_distinct (pandas counts
        missing as a value here, so no _valid_col blanking)."""
        sdf = self._materialized()
        row = sdf.select(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(
                F.when(~self._missing_mask(F.col(_VALUE), sdf), F.col(_VALUE))
            ).alias("d"),
            F.sum(self._missing_mask(F.col(_VALUE), sdf).cast("int")).alias("m"),
        ).first()
        # distinct ignores NULL; >1 missing rows break uniqueness
        return row["n"] == (row["d"] or 0) + (1 if (row["m"] or 0) == 1 else 0) and (row["m"] or 0) <= 1

    @property
    def hasnans(self) -> bool:
        return (
            self._materialized()
            .filter(self._missing_mask(self._col))
            .limit(1)
            .count()
            > 0
        )

    def _monotonic(self, increasing: bool) -> bool:
        """lag over the visible order (single window, same driver-scale
        shape as shift) — any out-of-order adjacent pair disproves
        monotonicity; missing values make the answer False (pandas)."""
        from pyspark.sql import Window

        sdf = self._materialized()
        w = Window.orderBy(*self._internal.order_columns(INDEX_COL))
        prev = F.lag(F.col(_VALUE)).over(w)
        pairs = sdf.select(F.col(_VALUE), prev.alias("__p"))
        cmp = (
            F.col(_VALUE) >= F.col("__p")
            if increasing
            else F.col(_VALUE) <= F.col("__p")
        )
        bad = pairs.filter(F.col("__p").isNotNull() & ~cmp).limit(1).count()
        has_missing = (
            sdf.filter(self._missing_mask(F.col(_VALUE), sdf)).limit(1).count() > 0
        )
        return bad == 0 and not has_missing

    @property
    def is_monotonic_increasing(self) -> bool:
        return self._monotonic(True)

    @property
    def is_monotonic_decreasing(self) -> bool:
        return self._monotonic(False)

    def pipe(self, func, *args, **kwargs):
        return func(self, *args, **kwargs)

    def equals(self, other: "Series") -> bool:
        """Exact index→value equality incl. missing==missing; distributed
        full-outer comparison, no row collect."""
        if not isinstance(other, Series):
            return False
        a = self._materialized().select(INDEX_COL, F.col(_VALUE).alias("__a"))
        b = other._materialized().select(INDEX_COL, F.col(_VALUE).alias("__b"))
        j = a.join(b, INDEX_COL, "full_outer")
        bad = j.filter(~F.col("__a").eqNullSafe(F.col("__b"))).limit(1).count()
        return bad == 0 and a.count() == b.count()

    def take(self, positions: list) -> "Series":
        return self.iloc[list(positions)]

    def get(self, key, default=None):
        """Label lookup returning ``default`` when absent (never raising —
        the dict-like accessor)."""
        rows = (
            self._materialized()
            .filter(F.col(INDEX_COL) == F.lit(key))
            .select(_VALUE)
            .limit(2)
            .collect()
        )
        if not rows:
            return default
        if len(rows) > 1:
            return self[key]
        return rows[0][_VALUE]

    def item(self):
        """The single value of a length-1 Series (pandas raises otherwise)."""
        rows = self._materialized().select(_VALUE).limit(2).collect()
        if len(rows) != 1:
            raise ValueError("can only convert an array of size 1 to a Python scalar")
        return rows[0][_VALUE]

    def tolist(self) -> list:
        return list(self.to_pandas())

    to_list = tolist

    def to_dict(self) -> dict:
        return self.to_pandas().to_dict()

    def to_numpy(self):
        return self.to_pandas().to_numpy()

    def items(self):
        s = self.to_pandas()
        return iter(s.items())

    def keys(self):
        return self.index

    def argmax(self) -> int:
        """POSITION of the max (pandas: -1 for all-missing, position of
        first max in visible order). One ordered limit-1 job."""
        return self._arg_extreme(descending=True)

    def argmin(self) -> int:
        return self._arg_extreme(descending=False)

    def _arg_extreme(self, descending: bool) -> int:
        from pyspark.sql import Window

        sdf = self._materialized()
        w = Window.orderBy(*self._internal.order_columns(INDEX_COL))
        pos = F.row_number().over(w) - 1
        valid = sdf.select(F.col(_VALUE), pos.alias("__pos")).filter(
            ~self._missing_mask(F.col(_VALUE), sdf)
        )
        order = [
            F.col(_VALUE).desc() if descending else F.col(_VALUE).asc(),
            F.col("__pos").asc(),
        ]
        rows = valid.orderBy(*order).select("__pos").limit(1).collect()
        return int(rows[0]["__pos"]) if rows else -1

    def first_valid_index(self):
        """Index label of the first non-missing value in visible order
        (None when all-missing)."""
        return self._valid_edge(first=True)

    def last_valid_index(self):
        return self._valid_edge(first=False)

    def _valid_edge(self, first: bool):
        sdf = self._materialized()
        valid = sdf.filter(~self._missing_mask(F.col(_VALUE), sdf))
        # order_columns returns SortOrder exprs; invert from the SPEC for
        # the "last" direction (calling .desc() on a SortOrder nests two
        # sort orders -> Spark codegen INTERNAL_ERROR, caught by test)
        spec = self._internal.order_spec or ((INDEX_COL, True),)
        order = [
            F.col(c).asc() if (asc if first else not asc) else F.col(c).desc()
            for c, asc in spec
        ]
        rows = valid.orderBy(*order).select(INDEX_COL).limit(1).collect()
        return rows[0][INDEX_COL] if rows else None

    def drop(self, labels) -> "Series":
        """Drop rows by index label(s) — the filter complement of
        ``self[labels]``; pure filter, pushdown-friendly."""
        labels = labels if isinstance(labels, (list, tuple, set)) else [labels]
        return Series._from_internal(
            InternalFrame(
                self._materialized().filter(~F.col(INDEX_COL).isin(list(labels))),
                INDEX_COL,
                self._internal.index_name,
                self._internal.order_spec,
            ),
            F.col(_VALUE),
            self._name,
        )

    def filter(self, items=None, like: str | None = None, regex: str | None = None) -> "Series":
        """Subset rows by INDEX label (pandas Series.filter semantics —
        items / substring / regex against the label)."""
        if sum(x is not None for x in (items, like, regex)) != 1:
            raise TypeError("specify exactly one of items, like, regex")
        idx = F.col(INDEX_COL)
        if items is not None:
            cond = idx.isin(list(items))
        elif like is not None:
            cond = idx.cast("string").contains(like)
        else:
            cond = idx.cast("string").rlike(regex)
        return Series._from_internal(
            InternalFrame(
                self._materialized().filter(cond),
                INDEX_COL,
                self._internal.index_name,
                self._internal.order_spec,
            ),
            F.col(_VALUE),
            self._name,
        )

    def truncate(self, before=None, after=None) -> "Series":
        """Rows with index label in [before, after] — pure range filter on
        the index (pushdown-friendly; pandas requires a sorted index for
        the same reason)."""
        cond = F.lit(True)
        if before is not None:
            cond = cond & (F.col(INDEX_COL) >= F.lit(before))
        if after is not None:
            cond = cond & (F.col(INDEX_COL) <= F.lit(after))
        return Series._from_internal(
            InternalFrame(
                self._materialized().filter(cond),
                INDEX_COL,
                self._internal.index_name,
                self._internal.order_spec,
            ),
            F.col(_VALUE),
            self._name,
        )

    def case_when(self, caselist) -> "Series":
        """pandas 2.2 Series.case_when: ``[(cond_series, value), ...]``
        applied in order, falling back to self. Conditions must share this
        Series' anchor (the df-derived idiom); pure projection."""
        expr = None
        for cond, value in caselist:
            if not isinstance(cond, Series) or cond._internal is not self._internal:
                raise ValueError("case_when conditions must derive from the same frame")
            v = value._col if isinstance(value, Series) else F.lit(value)
            c = cond._col.cast("boolean")
            branch = F.when(c.isNotNull() & c, v)
            expr = branch if expr is None else expr.when(c.isNotNull() & c, v)
        out = expr.otherwise(self._col) if expr is not None else self._col
        return Series._from_internal(self._internal, out, self._name)

    def compare(self, other: "Series"):
        """Rows where the two series differ (missing==missing is equal),
        as a two-column frame (self, other) indexed like pandas. Same
        full-outer shape as equals()."""
        from pontem_spark.core.frame import DataFrame as PFrame

        a = self._materialized().select(INDEX_COL, F.col(_VALUE).alias("self"))
        b = other._materialized().select(INDEX_COL, F.col(_VALUE).alias("other"))
        j = (
            a.join(b, INDEX_COL, "full_outer")
            .filter(~F.col("self").eqNullSafe(F.col("other")))
        )
        internal = InternalFrame(j, INDEX_COL, self._internal.index_name, None)
        return PFrame._from_internal(
            internal, {"self": F.col("self"), "other": F.col("other")}
        )

    @property
    def at(self):
        return _AtIndexer(self, positional=False)

    @property
    def iat(self):
        return _AtIndexer(self, positional=True)

    def asof(self, where):
        """Last non-missing value whose index label is <= ``where`` (NaN
        when none) — an ordered limit-1 job, the scalar cousin of the
        as-of join operator (operators/asof.py)."""
        sdf = self._materialized()
        valid = sdf.filter(
            (F.col(INDEX_COL) <= F.lit(where))
            & ~self._missing_mask(F.col(_VALUE), sdf)
        )
        rows = valid.orderBy(F.col(INDEX_COL).desc()).select(_VALUE).limit(1).collect()
        return rows[0][_VALUE] if rows else float("nan")

    @property
    def values(self):
        """Eager numpy materialization (pandas contract: ndarray is
        driver-sized by definition)."""
        return self.to_pandas().values

    array = values

    @property
    def T(self) -> "Series":
        return self

    def transpose(self) -> "Series":
        return self

    def ravel(self):
        return self.to_pandas().values

    def copy(self, deep: bool = True) -> "Series":
        """New wrapper over the same immutable anchor — frames here are
        never mutated in place, so deep and shallow coincide."""
        return Series._from_internal(self._internal, self._col, self._name)

    @property
    def empty(self) -> bool:
        return self._internal.sdf.limit(1).count() == 0

    def argsort(self) -> "Series":
        """pandas (current) argsort: positions WITHIN the non-missing
        subset, written at the non-missing slots in original order; -1 at
        missing slots (pandas deprecation-warns this shape but still
        emits it). Three windows over the visible order — driver-scale
        shape like every positional op."""
        from pyspark.sql import Window

        sdf = self._materialized()
        missing = self._missing_mask(sdf[_VALUE], sdf)
        # no projection: wv orders by the visible order, whose spec helper
        # columns must stay referenceable
        valid = sdf.filter(~missing)
        wv = Window.orderBy(*self._internal.order_columns(INDEX_COL))
        valid = valid.withColumn("__sub", F.row_number().over(wv) - 1)
        wr = Window.orderBy(F.col(_VALUE).asc(), F.col("__sub").asc())
        valid = valid.withColumn("__rank", F.row_number().over(wr) - 1)
        inv = valid.select(
            F.col("__rank").alias("__sub2"), F.col("__sub").alias("__orig")
        )
        # join the placements back on (index + order-spec helpers): both
        # sides derive from the SAME materialized frame, so the helpers
        # pair rows 1:1 even under duplicate index labels (r12)
        extras = [
            n
            for n, _ in (self._internal.order_spec or ())
            if n != INDEX_COL and n in sdf.columns
        ]
        placed = valid.join(inv, valid["__sub"] == inv["__sub2"]).select(
            INDEX_COL, *extras, "__orig"
        )
        j = _rowalign_left_join(
            sdf.select(INDEX_COL, *extras), placed, extras, "__orig"
        )
        spec = tuple(
            (n, asc)
            for n, asc in (self._internal.order_spec or ())
            if n in j.columns
        ) or None
        return Series._from_internal(
            InternalFrame(
                j,
                INDEX_COL,
                self._internal.index_name,
                spec,
                row_tokens=self._internal.row_tokens,
            ),
            F.coalesce(F.col("__orig"), F.lit(-1)).cast("bigint"),
            self._name,
        )

    def memory_usage(self, index: bool = True, deep: bool = False) -> int:
        return int(self.to_pandas().memory_usage(index=index, deep=deep))

    @property
    def nbytes(self) -> int:
        return int(self.to_pandas().nbytes)

    def infer_objects(self) -> "Series":
        return self

    def convert_dtypes(self) -> "Series":
        return self

    def tail(self, n: int = 5) -> "Series":
        """Last n rows in visible order — the iloc[-n:] positional path."""
        return self.iloc[-n:] if n > 0 else self.iloc[len(self):]

    def squeeze(self):
        """Length-1 Series → scalar; otherwise self (pandas)."""
        rows = self._materialized().select(_VALUE).limit(2).collect()
        return rows[0][_VALUE] if len(rows) == 1 else self

    def pop(self, label):
        """Value at label; the REMAINING series must be re-derived with
        drop() by the caller (a distributed frame has no mutable cells —
        same contract note as update)."""
        return self.at[label]

    def add_prefix(self, prefix: str) -> "Series":
        """Prefix every index LABEL (string index result, like pandas)."""
        sdf = self._materialized()
        out = sdf.withColumn(
            "__idx2__", F.concat(F.lit(prefix), F.col(INDEX_COL).cast("string"))
        )
        return Series._from_internal(
            InternalFrame(out, "__idx2__", self._internal.index_name),
            F.col(_VALUE),
            self._name,
        )

    def add_suffix(self, suffix: str) -> "Series":
        sdf = self._materialized()
        out = sdf.withColumn(
            "__idx2__", F.concat(F.col(INDEX_COL).cast("string"), F.lit(suffix))
        )
        return Series._from_internal(
            InternalFrame(out, "__idx2__", self._internal.index_name),
            F.col(_VALUE),
            self._name,
        )

    def expanding(self, min_periods: int = 1):
        """Expanding window — Rolling with an unbounded-preceding frame."""
        return _SeriesExpanding(self, min_periods)

    def transform(self, func, *args, **kwargs) -> "Series":
        """pandas transform for a callable = elementwise apply that must
        preserve length — same Arrow path as apply."""
        return self.apply(func, *args, **kwargs)

    def aggregate(self, funcs):
        return self.agg(funcs)

    def divide(self, other): return self / other
    def multiply(self, other): return self * other
    def subtract(self, other): return self - other

    def product(self):
        return self.prod()

    def pad(self) -> "Series":
        return self.ffill()

    def backfill(self) -> "Series":
        return self.bfill()

    def reset_index(self, drop: bool = False):
        """drop=True → renumber 0..n-1 through the frame's DISTRIBUTED
        enumeration (literal-boundary buckets, no single-partition
        window); drop=False → 2-column frame (index, values) like
        pandas."""
        from pontem_spark.core.frame import DataFrame as PFrame

        name = self._name if self._name is not None else 0
        iname = self._internal.index_name
        sdf = self._materialized()
        cols = {
            str(iname if iname is not None else "index"): F.col(INDEX_COL),
            str(name): F.col(_VALUE),
        }
        f = PFrame._from_internal(
            InternalFrame(sdf, INDEX_COL, iname, self._internal.order_spec), cols
        )
        renumbered = f.reset_index(drop=True)
        if drop:
            return renumbered[str(name)].rename(self._name)
        return renumbered

    def at_time(self, time_str: str) -> "Series":
        """Rows whose TIMESTAMP index is exactly this time of day — a
        pure pushdown-friendly filter (date_format equality)."""
        return self._filter(
            F.date_format(F.col(INDEX_COL), "HH:mm:ss")
            == F.lit(self._normalize_time(time_str))
        )

    def between_time(self, start: str, end: str) -> "Series":
        """Rows whose time of day falls in [start, end] inclusive
        (pandas default inclusive='both'); wrapping ranges (start > end)
        select the complement band like pandas."""
        t = F.date_format(F.col(INDEX_COL), "HH:mm:ss")
        lo, hi = self._normalize_time(start), self._normalize_time(end)
        cond = (
            (t >= F.lit(lo)) & (t <= F.lit(hi))
            if lo <= hi
            else (t >= F.lit(lo)) | (t <= F.lit(hi))
        )
        return self._filter(cond)

    @staticmethod
    def _normalize_time(t: str) -> str:
        parts = t.split(":")
        while len(parts) < 3:
            parts.append("00")
        return ":".join(p.zfill(2) for p in parts)

    def to_string(self, *args, **kwargs) -> str:
        return self.to_pandas().to_string(*args, **kwargs)

    def to_markdown(self, *args, **kwargs) -> str:
        return self.to_pandas().to_markdown(*args, **kwargs)

    def to_csv(self, *args, **kwargs):
        """Driver-side pandas terminal (the DISTRIBUTED csv sink is
        sources/writers.py::write_csv)."""
        return self.to_pandas().to_csv(*args, **kwargs)

    def to_json(self, *args, **kwargs):
        return self.to_pandas().to_json(*args, **kwargs)

    def groupby(self, by=None, level=None):
        """s.groupby(key_series).mean() for a SAME-ANCHOR key series (the
        df-derived idiom), or s.groupby(level=...) over a struct-backed
        MultiIndex — both route through the engine's grouped machinery
        (one hash aggregate; NaN keys dropped like pandas)."""
        from pontem_spark.core.frame import DataFrame as PFrame

        if level is not None:
            names = self._level_names()
            lvl = names[level] if isinstance(level, int) else level
            key_col = F.col(f"{INDEX_COL}.{lvl}")
            sdf = self._materialized()
            f = PFrame._from_internal(
                InternalFrame(sdf, INDEX_COL, self._internal.index_name),
                {lvl: key_col, str(self._name or "value"): sdf[_VALUE]},
            )
            # direct GroupBy: the exposed key column IS the index level
            # here by construction, so the user-facing column/level
            # ambiguity guard (DataFrame.groupby) must not fire
            from pontem_spark.core.groupby import GroupBy

            return GroupBy(f, [lvl], True)[str(self._name or "value")]
        if not isinstance(by, Series) or by._internal is not self._internal:
            raise ValueError(
                "groupby needs a same-anchor key Series (df-derived) or level="
            )
        key_name = str(by._name or "key")
        val_name = str(self._name or "value")
        f = PFrame._from_internal(
            self._internal, {key_name: by._col, val_name: self._col}
        )
        # direct GroupBy: the key column is engine-exposed, so a key Series
        # that happens to SHARE the index's name must not trip the
        # user-facing column/level ambiguity guard
        from pontem_spark.core.groupby import GroupBy

        return GroupBy(f, [key_name], True)[val_name]

    def resample(self, rule: str):
        """pandas ``s.resample('6H').mean()`` for a timestamp-indexed
        Series — thin face over the engine's resample shape
        (operators/timeseries.py): floor the index onto the epoch grid,
        one map-side-combinable aggregate per bucket. ``rule``: pandas
        offset aliases h/min/s/d (fixed-width only — calendar months need
        calendar arithmetic, use the operators module)."""
        return _Resampler(self, rule)

    def asfreq(self, freq: str, method: str | None = None, fill_value=None) -> "Series":
        """pandas asfreq over a timestamp index: the new index is the
        ``freq`` grid anchored at the FIRST observation (asfreq anchors
        at index[0], unlike resample's start_day), values taken at EXACT
        grid timestamps. Unmatched grid points get NaN / ``fill_value``,
        or the positionally previous/next observation with
        method='ffill'/'bfill' (pandas reindex semantics: fill by
        POSITION — an observed NaN propagates; pre-existing NaN at a
        matched timestamp is never replaced by fill_value). When BOTH
        method and fill_value are given, method wins and fill_value is
        ignored — pinned against pandas 2.2 (asfreq does not raise; the
        in-range grid leaves method no gap for fill_value to touch).
        Duplicate index timestamps raise like pandas ('cannot reindex on
        an axis with duplicate labels') via the lazy in-plan guard.

        Plan shape: one broadcast 1-row bounds agg + a sequence-explode
        grid (size time-range/freq, same loud guard as resample) + an
        exact-match left join; ffill/bfill add one time-ordered window
        over grid+data (a single time-ordered pass — inherent to
        positional filling, same scale caveat as rank 'first')."""
        import re

        from pyspark.sql import Window

        m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", freq.strip())
        unit = m.group(2).lower() if m else None
        if not m or unit not in _Resampler._UNITS:
            raise ValueError(
                f"unsupported asfreq rule {freq!r}; fixed-width units only "
                f"({sorted(_Resampler._UNITS)})"
            )
        if method not in (None, "ffill", "pad", "bfill", "backfill"):
            raise ValueError(f"asfreq: unsupported method {method!r}")
        sec = int(m.group(1) or 1) * _Resampler._UNITS[unit]
        from pyspark.sql.types import TimestampType

        sdf = self._materialized()
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
        guarded = F.when(
            n > _Resampler._MAX_GRID,
            F.raise_error(
                F.concat(
                    F.lit("asfreq: the grid has "),
                    n.cast("string"),
                    F.lit(
                        f" slots (time-range/freq) — past the "
                        f"{_Resampler._MAX_GRID} guard. Coarsen the rule."
                    ),
                )
            ),
        ).otherwise(seq)
        grid = bounds.select(F.explode(guarded).alias("__gus")).select(
            F.timestamp_micros(F.col("__gus")).alias("__g")
        )
        data = sdf.select(
            F.col(INDEX_COL).alias("__g"),
            F.struct(F.col(_VALUE).alias("v")).alias("__obs"),
        )
        if method is None:
            joined = grid.join(data, "__g", "left")
            col = F.col("__obs").getField("v")
            if fill_value is not None:
                # fill only grid-introduced gaps — a matched row keeps its
                # value even when that value is missing (pandas contract)
                col = F.when(F.col("__obs").isNotNull(), col).otherwise(
                    F.lit(fill_value)
                )
            out = joined.select(F.col("__g").alias(INDEX_COL), col.alias("__v"))
        else:
            forward = method in ("ffill", "pad")
            # union data and grid rows on one timeline; at an equal
            # timestamp the DATA row sits on the fill side of the grid row
            # so an exact match always wins
            u = data.select("__g", "__obs", F.lit(1).alias("__src")).unionByName(
                grid.select(
                    "__g", F.lit(None).cast(data.schema["__obs"].dataType).alias("__obs"),
                    F.lit(0).alias("__src"),
                )
            )
            if forward:
                w = (
                    Window.orderBy(F.col("__g").asc(), F.col("__src").desc())
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                picked = F.last(F.col("__obs"), ignorenulls=True).over(w)
            else:
                w = (
                    Window.orderBy(F.col("__g").asc(), F.col("__src").asc())
                    .rowsBetween(Window.currentRow, Window.unboundedFollowing)
                )
                picked = F.first(F.col("__obs"), ignorenulls=True).over(w)
            out = (
                u.withColumn("__pick", picked)
                .filter(F.col("__src") == 0)
                .select(
                    F.col("__g").alias(INDEX_COL),
                    F.col("__pick").getField("v").alias("__v"),
                )
            )
        # duplicate index timestamps would silently fan out the grid join
        # (and make the window pick nondeterministic) — pandas raises
        from pontem_spark.core.internal import guard_unique_labels

        out = guard_unique_labels(data, "__g", out, INDEX_COL)
        return Series._from_internal(
            InternalFrame(out, INDEX_COL, self._internal.index_name),
            out["__v"],
            self._name,
        )

    # alignment family (r7 batch 2) -------------------------------------------

    def reindex(self, labels) -> "Series":
        """Conform to a new label list: absent labels become missing rows
        (pandas). One left join from the (tiny, broadcastable) label
        frame. Duplicate labels in SELF raise like pandas — a lazy in-plan
        guard, not an eager probe job."""
        from pontem_spark.core.internal import guard_unique_labels

        spark = self._internal.sdf.sparkSession
        lab = spark.createDataFrame([(l,) for l in labels], [INDEX_COL])
        data = self._materialized()
        j = guard_unique_labels(
            data, INDEX_COL, lab.join(data, INDEX_COL, "left"), INDEX_COL
        )
        return Series._from_internal(
            InternalFrame(j, INDEX_COL, self._internal.index_name),
            F.col(_VALUE),
            self._name,
        )

    def reindex_like(self, other: "Series") -> "Series":
        """Conform to ``other``'s index — ``reindex(other.index)`` without
        ever collecting the labels: one DISTRIBUTED left join from
        other's index frame (pandas' driver-side label list would be a
        cliff at scale). Result rows follow index order. Duplicate labels
        in SELF raise like pandas (lazy in-plan guard)."""
        from pontem_spark.core.internal import guard_unique_labels

        lab = other._materialized().select(INDEX_COL)
        data = self._materialized()
        j = guard_unique_labels(
            data, INDEX_COL, lab.join(data, INDEX_COL, "left"), INDEX_COL
        )
        return Series._from_internal(
            InternalFrame(j, INDEX_COL, self._internal.index_name),
            F.col(_VALUE),
            self._name,
        )

    def update(self, other: "Series") -> None:
        """Overwrite with ``other``'s non-missing values on matching
        labels; self's index is kept. Left join + per-cell coalesce.
        Rebinds self IN PLACE and returns None, exactly like pandas (r9:
        the hybrid return-self made value-style call sites silent aliases
        of self — see the frame twin)."""
        a = self._materialized()
        b_full = other._materialized("__u__")
        ukeys = rowalign_keys(self._internal, other._internal, a, b_full)
        b = b_full.select(INDEX_COL, *ukeys, "__u__")
        j = _rowalign_left_join(a, b, ukeys, "__u__")
        u = F.col("__u__")
        if j.schema["__u__"].dataType.simpleString() in ("double", "float"):
            u = F.when(F.isnan(u), F.lit(None)).otherwise(u)
        # self's visible order survives the update (pandas keeps row
        # order; the helper columns are carried by the left side)
        uspec = tuple(
            (n, asc)
            for n, asc in (self._internal.order_spec or ())
            if n in j.columns
        ) or None
        updated = Series._from_internal(
            InternalFrame(
                j,
                INDEX_COL,
                self._internal.index_name,
                uspec,
                row_tokens=self._internal.row_tokens,
            ),
            F.coalesce(u, F.col(_VALUE)),
            self._name,
        )
        self._internal = updated._internal
        self._col = updated._col
        self._cached_len = None
        return None

    def align(self, other: "Series", join: str = "outer") -> "tuple[Series, Series]":
        """Index-align two series; both results share ONE joined anchor
        (so downstream binops between them are join-free)."""
        how = {"outer": "full_outer", "inner": "inner", "left": "left", "right": "right"}[join]
        a = self._materialized().select(INDEX_COL, _VALUE)
        b = other._materialized("__v2__").select(INDEX_COL, "__v2__")
        j = a.join(b, INDEX_COL, how)
        internal = InternalFrame(j, INDEX_COL, self._internal.index_name)
        return (
            Series._from_internal(internal, F.col(_VALUE), self._name),
            Series._from_internal(internal, F.col("__v2__"), other._name),
        )

    def combine(self, other: "Series", func, fill_value=None) -> "Series":
        """Elementwise ``func(l, r)`` over the outer-aligned pair — one
        Arrow row UDF over the joined struct (batched, never per-row
        Python jobs). Return dtype inferred from a 1-row sample like
        Series.apply."""
        from pontem_spark.core._udf import make_row_udf

        a = self._materialized().select(INDEX_COL, F.col(_VALUE).alias("__l"))
        b = other._materialized("__r").select(INDEX_COL, "__r")
        j = a.join(b, INDEX_COL, "full_outer")
        l = F.coalesce(F.col("__l"), F.lit(fill_value)) if fill_value is not None else F.col("__l")
        r = F.coalesce(F.col("__r"), F.lit(fill_value)) if fill_value is not None else F.col("__r")
        sample = j.select(l.alias("l"), r.alias("r")).first()
        out = func(sample["l"], sample["r"]) if sample is not None else None
        rtype = {bool: "boolean", int: "bigint", float: "double", str: "string"}.get(
            type(out), "double"
        )
        u = make_row_udf(lambda row: func(row["l"], row["r"]), rtype)
        return Series._from_internal(
            InternalFrame(j, INDEX_COL, self._internal.index_name),
            u(F.struct(l.alias("l"), r.alias("r"))),
            self._name,
        )

    def divmod(self, other) -> "tuple[Series, Series]":
        return self // other, self % other

    def rdivmod(self, other) -> "tuple[Series, Series]":
        return self.__rfloordiv__(other), self.__rmod__(other)

    def rename_axis(self, name) -> "Series":
        """Rename the INDEX (zero-job metadata, like rename for values)."""
        return Series._from_internal(
            InternalFrame(
                self._internal.sdf,
                self._internal.index_spark_col,
                name,
                self._internal.order_spec,
            ),
            self._col,
            self._name,
        )

    def factorize(self):
        """(codes, uniques) — ndarray results are driver-sized by
        definition (pandas contract), so this is an eager terminal like
        tolist(), behind the shared loud guard (core/limits.py)."""
        from pontem_spark.core.limits import MAX_DRIVER_ROWS

        n = self._internal.sdf.limit(MAX_DRIVER_ROWS + 1).count()
        if n > MAX_DRIVER_ROWS:
            raise ValueError(
                f"Series.factorize(): series has more than "
                f"{MAX_DRIVER_ROWS} rows; the codes ndarray is driver-"
                "collected. Stay distributed with rank('dense') or a "
                "dimension join instead."
            )
        return self.to_pandas().factorize()

    # MultiIndex level plumbing ------------------------------------------------

    def _level_names(self) -> list:
        name = self._internal.index_name
        if not isinstance(name, tuple):
            raise TypeError("not a MultiIndex")
        return list(name)

    def _rebuild_index(self, keep: "list[str]") -> "Series":
        m = self._materialized()
        # pandas droplevel/swaplevel/xs preserve ROW ORDER — keep ordering
        # anchored to the original struct index under a helper name (the
        # frame's _level_rebuild fix, r8 probe: re-sorting by the rebuilt
        # index reordered rows)
        spec = self._internal.order_spec
        if spec is None:
            m = m.withColumn("__lvlorder__", F.col(INDEX_COL))
            spec = (("__lvlorder__", True),)
        if len(keep) == 1:
            sdf = m.withColumn("__idx2__", F.col(f"{INDEX_COL}.{keep[0]}"))
            internal = InternalFrame(sdf, "__idx2__", keep[0], order_spec=spec)
        else:
            sdf = m.withColumn(
                "__idx2__",
                F.struct(*[F.col(f"{INDEX_COL}.{n}").alias(n) for n in keep]),
            )
            internal = InternalFrame(sdf, "__idx2__", tuple(keep), order_spec=spec)
        return Series._from_internal(internal, F.col(_VALUE), self._name)

    def droplevel(self, level) -> "Series":
        names = self._level_names()
        drop = names[level] if isinstance(level, int) else level
        return self._rebuild_index([n for n in names if n != drop])

    def swaplevel(self, i: int = -2, j: int = -1) -> "Series":
        names = self._level_names()
        names[i], names[j] = names[j], names[i]
        return self._rebuild_index(names)

    def reorder_levels(self, order: "list") -> "Series":
        """Reorder MultiIndex levels (struct field reorder — zero-job)."""
        names = self._level_names()
        new = [names[l] if isinstance(l, int) else l for l in order]
        return self._rebuild_index(new)

    @property
    def dtypes(self):
        return self.dtype

    def xs(self, key, level=0) -> "Series":
        """Cross-section: rows where the given index LEVEL equals key,
        that level dropped — a pure pushdown-friendly filter plus the
        droplevel rebuild."""
        names = self._level_names()
        lvl = names[level] if isinstance(level, int) else level
        m = self._materialized()
        filtered = m.filter(F.col(f"{INDEX_COL}.{lvl}") == F.lit(key))
        keep = [n for n in names if n != lvl]
        if len(keep) == 1:
            sdf = filtered.withColumn("__idx2__", F.col(f"{INDEX_COL}.{keep[0]}"))
            internal = InternalFrame(sdf, "__idx2__", keep[0])
        else:
            sdf = filtered.withColumn(
                "__idx2__",
                F.struct(*[F.col(f"{INDEX_COL}.{n}").alias(n) for n in keep]),
            )
            internal = InternalFrame(sdf, "__idx2__", tuple(keep))
        return Series._from_internal(internal, F.col(_VALUE), self._name)

    # accessors ---------------------------------------------------------------

    @property
    def str(self):
        from pontem_spark.core.accessors import StringAccessor

        return StringAccessor(self)

    @property
    def dt(self):
        from pontem_spark.core.accessors import DatetimeAccessor

        return DatetimeAccessor(self)


def _positional_take_sdf(obj, positions: list):
    """Shared Series/DataFrame take: rows at the given VISIBLE-order
    positions, carrying a ``__take_ord__`` request-rank column so the
    result materializes in pandas' take order with duplicates preserved.
    One global row_number window (on-demand only — positional semantics
    need a total order) + a CASE chain over the DISTINCT positions."""
    from collections import defaultdict

    from pyspark.sql import Window

    keys = [int(k) for k in positions]
    if any(k < 0 for k in keys):
        n = len(obj)
        keys = [k + n if k < 0 else k for k in keys]
        if any(k < 0 for k in keys):
            raise IndexError(f"position out of bounds for length {n}")
    ranks: "dict[int, list[int]]" = defaultdict(list)
    for i, k in enumerate(keys):
        ranks[k].append(i)
    w = Window.orderBy(*obj._internal.order_columns(INDEX_COL))
    mat = obj._materialized().withColumn("__rn__", F.row_number().over(w) - 1)
    chain = None
    for k, rs in ranks.items():
        cond = F.col("__rn__") == k
        chain = F.when(cond, F.lit(rs)) if chain is None else chain.when(cond, F.lit(rs))
    if chain is None:  # empty positions list
        return mat.filter(F.lit(False)).withColumn("__take_ord__", F.lit(0)).drop("__rn__")
    return (
        mat.filter(F.col("__rn__").isin(list(ranks)))
        .withColumn("__take_ord__", F.explode(chain))
        .drop("__rn__")
    )


class _SeriesExpanding:
    """Expanding window over a Series (unbounded-preceding frame)."""

    def __init__(self, s: "Series", min_periods: int = 1):
        self._s = s
        self._minp = min_periods

    def _apply(self, aggfn):
        from pyspark.sql import Window

        s = self._s
        if _window_free(s._col):
            # same-anchor composition — the r13 positional-op rule
            sdf, col0, internal, src = s._internal.sdf, s._col, s._internal, None
        else:
            sdf = s._materialized()
            col0 = sdf[_VALUE]
            internal = InternalFrame(
                sdf,
                INDEX_COL,
                s._internal.index_name,
                s._internal.order_spec,
                row_tokens=s._internal.row_tokens,
            )
            src = s
        wdefault = (
            s._internal.index_spark_col if src is None else INDEX_COL
        )
        w = Window.orderBy(*s._internal.order_columns(wdefault)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        v = F.when(~s._missing_mask(col0, sdf), col0)
        cnt = F.count(v).over(w)
        col = F.when(cnt >= self._minp, aggfn(v).over(w))
        res = Series._from_internal(internal, col, s._name)
        if src is not None:
            res._mat_source = src  # _mat_pair: source value is _VALUE here
        return res

    def sum(self): return self._apply(F.sum)
    def mean(self): return self._apply(F.mean)
    def min(self): return self._apply(F.min)
    def max(self): return self._apply(F.max)
    def std(self): return self._apply(F.stddev_samp)
    def var(self): return self._apply(F.var_samp)
    def count(self): return self._apply(F.count)


class _Resampler:
    """Fixed-interval resampling over a timestamp index.

    Emits the COMPLETE bucket grid like pandas (r9 probe: empty buckets
    gap-fill — NaN for the mean family, 0 for count/sum). The grid comes
    from one tiny min/max agg + a distributed sequence explode and a
    left join of the observed aggregates; its size is time-range/freq,
    UNBOUNDED by the data, so a loud guard caps it (a 10-year span at
    '1s' is 315M grid rows — compose operators/timeseries.py::gap_fill
    explicitly, or coarsen the rule, past the cap)."""

    _UNITS = {"s": 1, "min": 60, "t": 60, "h": 3600, "d": 86400}
    _MAX_GRID = 10_000_000

    def __init__(self, s: "Series", rule: str):
        import re

        m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", rule.strip())
        unit = m.group(2).lower() if m else None
        if not m or unit not in self._UNITS:
            raise ValueError(
                f"unsupported resample rule {rule!r}; fixed-width units only "
                f"({sorted(self._UNITS)})"
            )
        self._s = s
        self._sec = int(m.group(1) or 1) * self._UNITS[unit]

    def _agg(self, fn, empty=None) -> "Series":
        s = self._s
        sdf = s._materialized()
        sec = self._sec
        # pandas anchors the grid at MIDNIGHT OF THE FIRST DAY
        # (origin='start_day'), not the epoch — identical for any freq
        # dividing 86400 s, but '2d' or '7min' shift (r9 probe). The
        # anchor is a broadcast 1-row bounds frame (the engine's
        # sanctioned crossJoin shape for scalar stats).
        ts = F.col(INDEX_COL)
        bounds = sdf.agg(
            F.unix_timestamp(F.date_trunc("day", F.min(ts))).alias("__a"),
            F.unix_timestamp(F.min(ts)).alias("__mn"),
            F.unix_timestamp(F.max(ts)).alias("__mx"),
        )
        base = sdf.crossJoin(F.broadcast(bounds))
        off = F.unix_timestamp(ts) - F.col("__a")
        bucket = F.timestamp_seconds(
            F.col("__a") + off - F.pmod(off, F.lit(sec))
        )
        v = F.col(_VALUE)
        missing = s._missing_mask(v, sdf)
        out = (
            base.select(bucket.alias("__b"), F.when(~missing, v).alias("__v"))
            .groupBy("__b")
            .agg(fn(F.col("__v")).alias(_VALUE))
        )
        # pandas grid: every bucket from the first to the last, empty
        # ones filled. The size guard (time-range/freq is UNBOUNDED by
        # the data) is raise_error INSIDE the plan — fully lazy, and an
        # empty input sequences to NULL → explode → zero rows.
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
        guarded = F.when(
            n > self._MAX_GRID,
            F.raise_error(
                F.concat(
                    F.lit("resample: the bucket grid has "),
                    n.cast("string"),
                    F.lit(
                        f" slots (time-range/freq) — past the "
                        f"{self._MAX_GRID} guard. Coarsen the rule or "
                        "compose operators/timeseries.py::gap_fill "
                        "explicitly."
                    ),
                )
            ),
        ).otherwise(seq)
        grid = bounds.select(F.explode(guarded).alias("__b"))
        filled = grid.join(out, "__b", "left")
        col = F.col(_VALUE)
        if empty is not None:
            col = F.coalesce(col, F.lit(empty))
        return Series._from_internal(
            InternalFrame(filled, "__b", s._internal.index_name),
            col,
            s._name,
        )

    def mean(self): return self._agg(F.mean)
    def sum(self): return self._agg(F.sum, empty=0)
    def min(self): return self._agg(F.min)
    def max(self): return self._agg(F.max)
    def count(self): return self._agg(F.count, empty=0)


class _AtIndexer:
    """s.at[label] / s.iat[pos] — scalar access."""

    def __init__(self, s: "Series", positional: bool):
        self._s = s
        self._positional = positional

    def __getitem__(self, key):
        if self._positional:
            return self._s.iloc[key]
        sentinel = object()
        out = self._s.get(key, sentinel)
        if out is sentinel:
            raise KeyError(key)
        return out


class _LocIndexer:
    def __init__(self, s: Series):
        self._s = s

    def __getitem__(self, key):
        if isinstance(key, Series):
            return self._s[key]
        if isinstance(key, slice):  # label slice: inclusive both ends (pandas loc)
            cond = F.lit(True)
            if key.start is not None:
                cond = cond & (F.col(INDEX_COL) >= F.lit(key.start))
            if key.stop is not None:
                cond = cond & (F.col(INDEX_COL) <= F.lit(key.stop))
            return self._s._filter(cond)
        return self._s[key]


class _ILocIndexer:
    def __init__(self, s: Series):
        self._s = s

    def __getitem__(self, key):
        if isinstance(key, slice):
            return self._s._positional_slice(key)
        if isinstance(key, bool):
            raise TypeError("iloc key: bool")
        if isinstance(key, int):
            if key < 0:
                key += len(self._s)
                if key < 0:
                    raise IndexError(key)
            sliced = self._s._positional_slice(slice(key, key + 1))
            rows = sliced._materialized().collect()
            if not rows:
                raise IndexError(key)
            return rows[0][_VALUE]
        if isinstance(key, (list, tuple)) or (
            hasattr(key, "__array__") and getattr(key, "ndim", 1) == 1
        ):
            return self._s._positional_take(list(key))
        raise TypeError(f"iloc key: {type(key)}")
