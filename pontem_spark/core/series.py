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

from pontem_spark.core import reductions, window as win
from pontem_spark.core.cells import (
    combine_cells,
    dtypes,
    missing,
    scalar_dtype,
    valid,
)
from pontem_spark.core.generic import Frame
from pontem_spark.core.internal import (
    INDEX_COL,
    InternalFrame,
    align_rows,
    next_epos_name,
    rowalign_keys,
    rowalign_left_join as _rowalign_left_join,
    to_spark_type,
    upload,
)

_VALUE = "__value__"


class Series(Frame):
    """1-D labeled array over a Spark anchor DataFrame: a frame of one value
    column (``__value__``) plus its name."""

    # -- construction -------------------------------------------------------

    def __init__(
        self,
        data: Iterable | None = None,
        index: Iterable | None = None,
        name: Any = None,
        spark: SparkSession | None = None,
        sc: Any = None,
    ):
        import numpy as np
        import pandas as pd
        from collections.abc import Mapping

        if data is None:
            raise ValueError("Series requires data")
        if spark is None and sc is not None:
            # reference-API compatibility: pt.Series(sc=sc, data=...) took a
            # SparkContext (`pontem/series/series.py:22-49`); accept either a
            # SparkContext or a SparkSession here and use the active session.
            spark = sc if isinstance(sc, SparkSession) else SparkSession.getActiveSession()
        if isinstance(data, Mapping):
            # pandas: dict keys become the index; an explicit index
            # REINDEXES by label (missing labels -> NaN), it does not
            # relabel positionally (r14 probe: the dict ctor previously
            # took the keys as the VALUES)
            data = pd.Series(data)
            if index is not None:
                data, index = data.reindex(list(index)), None
        if isinstance(data, pd.Series):
            if index is None:
                index = data.index
            data = data.to_numpy()
        # python scalars, as the values always uploaded
        if isinstance(data, np.ndarray):
            data = data.tolist()
        elif not isinstance(data, (list, tuple)):
            data = list(data)
        if index is not None:
            # a pd.MultiIndex stays multi-level; any other iterable
            # (including a list of tuples) is a flat index, like pandas
            if not isinstance(index, pd.Index):
                index = list(index)
            if len(index) != len(data):
                raise ValueError(f"index length {len(index)} != data length {len(data)}")
        self._internal, cols = upload(pd.Series(data, index=index).to_frame(_VALUE), spark)
        self._col = cols[_VALUE]
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

    # -- the Frame hooks ------------------------------------------------------

    def _values(self) -> "dict[str, Column]":
        return {_VALUE: self._col}

    def _with(self, internal: InternalFrame, cols: "dict[str, Column]") -> "Series":
        return Series._from_internal(internal, cols[_VALUE], self._name)

    def _pandas(self, pdf):
        out = pdf[_VALUE]
        out.name = self._name
        return out

    def _require_numeric(self, op: str) -> None:
        """A Series window op takes any dtype its rule takes (pandas ranks
        str values)."""

    def _row(self, key):
        """The one value of a one-row slice (``iloc[int]``)."""
        rows = self._materialized().collect()
        if not rows:
            raise IndexError(key)
        return rows[0][_VALUE]

    def _label(self, label, one_col: bool = False):
        """Label lookup → the scalar, or a pandas Series when the label
        repeats."""
        rows = self._materialized().filter(F.col(INDEX_COL) == F.lit(label)).collect()
        if len(rows) == 1:
            return rows[0][_VALUE]
        if len(rows) == 0:
            raise KeyError(label)
        import pandas as pd

        return pd.Series([r[_VALUE] for r in rows], index=[r[INDEX_COL] for r in rows], name=self._name)

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

    def _missing_mask(self, col: Column, sdf: "SparkDataFrame | None" = None) -> Column:
        """pandas missing-ness over a Spark column: NULL, plus NaN for
        float dtypes (Spark distinguishes the two; pandas treats both as
        missing). THE one definition every skipna-style op must share —
        clip/rank/mode/autocorr all route here."""
        frame = sdf if sdf is not None else self._internal.sdf
        return missing(col, dtypes(frame, col)[0])

    def __repr__(self) -> str:  # never a full count/scan (SURVEY §4: repr hazard)
        preview = self._ordered(self._materialized()).limit(6).toPandas()
        shown = preview.iloc[:5]
        lines = [f"{i}\t{v}" for i, v in zip(shown[INDEX_COL], shown[_VALUE])]
        if len(preview) > 5:
            lines.append("...")
        lines.append(f"Name: {self._name}, dtype: {self.dtype} (pontem_spark.Series, lazy)")
        return "\n".join(lines)

    # -- arithmetic / comparison (the dunders live on Frame) -------------------

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

        A visible-order rule over a WINDOWED column (core/window.py
        ``Visible``) re-anchors its result on ``self._materialized()`` and
        tags it with ``_mat_source`` = the source series. When that result
        later meets its own source in a binop (``m - m.shift()`` with
        ``m = s.cumsum()``: the shift re-anchored), the source's value
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

    def _dtype_str(self) -> "str | None":
        return dtypes(self._internal.sdf, self._col)[0]

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

    # -- reductions: core/reductions.py entries, one select each ------------

    def _reduce(self, how: str, **kw) -> Any:
        col = reductions.column(how, self._col, self._dtype_str(), **kw)
        v = self._internal.sdf.select(col).first()[0]
        # pandas returns NaN (not None) when no valid values remain
        return float("nan") if v is None else v

    def sum(self): return self._reduce("sum")
    def mean(self): return self._reduce("mean")
    def min(self): return self._reduce("min")
    def max(self): return self._reduce("max")

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
                vals = self._reduce("quantile", q=qs)
                if not isinstance(vals, list):
                    vals = [float("nan")] * len(qs)
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
            return self._reduce("quantile", q=q)
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
            self._internal.sdf.select(valid(self._col, self._dtype_str()).alias("__q"))
            .where(F.col("__q").isNotNull())
            .orderBy(F.col("__q").asc())
            .offset(k)
            .limit(1)
            .first()["__q"]
            for k in picks
        ]
        return float(sum(vals) / len(vals)) if len(vals) > 1 else vals[0]

    def describe(self):
        """pandas describe (core/reductions.py) in ONE aggregation pass,
        returned as a pandas Series (the reference printed and returned
        None, `series.py:152-153`)."""
        import pandas as pd

        stats = reductions.describe(self._col, self._dtype_str())
        row = self._internal.sdf.select(*[e for _, e in stats]).first()
        return pd.Series(dict(zip([label for label, _ in stats], row)), name=self._name)

    # -- ordering / selection -------------------------------------------------

    def sort_values(self, ascending: bool = True, na_position: str = "last") -> "Series":
        return self._sort_by({_VALUE: F.col(_VALUE)}, [ascending], na_position)

    def nlargest(self, n: int = 5, keep: str = "first") -> "Series":
        return self._n_extreme(n, [_VALUE], largest=True, keep=keep)

    def nsmallest(self, n: int = 5, keep: str = "first") -> "Series":
        return self._n_extreme(n, [_VALUE], largest=False, keep=keep)

    def __getitem__(self, key):
        if isinstance(key, Series):  # boolean mask — the s[s > 0] idiom
            return self._masked(key)
        if isinstance(key, slice):
            return self._positional_slice(key)
        # scalar label lookup → scalar (or Series if duplicated labels)
        return self._label(key)

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
        return self._dropna([_VALUE])

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
        """Boolean duplicate mask, pandas ``keep`` semantics (the Frame
        rule): a same-anchor window on the value."""
        flag = self._duplicate_flag([self._col], keep, "duplicated", self._internal.index_spark_col)
        return Series._from_internal(self._internal, flag, self._name)

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
            return self._rewrap(sdf, order_spec=None)
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
        return self._drop_duplicates([_VALUE], keep)

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

    def shift(self, periods: int = 1, fill_value=None) -> "Series":
        return self._visible(win.shift, periods, fill_value)

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
        v = valid(self._col, self._dtype_str())
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
        return self._rewrap(sdf, order_spec=spec)

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
        return self._rewrap(sdf, order_spec=spec)

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

    def _extreme_label(self, descending: bool) -> Any:
        """The core/window.py idx-extreme rule over the value column;
        pandas raises on all-missing input."""
        src = win.Visible(self._internal, {_VALUE: self._col})
        found = win.idx_extreme(src, descending).first()[_VALUE]
        if found is None:
            raise ValueError("attempt to get argmax of an empty sequence")
        return found.label

    def idxmax(self):
        return self._extreme_label(descending=True)

    def idxmin(self):
        return self._extreme_label(descending=False)

    def agg(self, funcs):
        """'sum' | ['sum', 'mean', ...] → scalar or pandas Series, computed
        in ONE aggregation pass."""
        import pandas as pd

        single = isinstance(funcs, str)
        names = [funcs] if single else list(funcs)
        dt = self._dtype_str()
        row = self._internal.sdf.select(
            *[reductions.column(n, self._col, dt) for n in names]
        ).first()
        vals = [float("nan") if v is None else v for v in row]
        return vals[0] if single else pd.Series(dict(zip(names, vals)), name=self._name)

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
        missing as a value here, so no cells.valid blanking)."""
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

    def drop(self, labels) -> "Series":
        """Drop rows by index label(s) — the filter complement of
        ``self[labels]``; pure filter, pushdown-friendly."""
        labels = labels if isinstance(labels, (list, tuple, set)) else [labels]
        return self._filter(~F.col(INDEX_COL).isin(list(labels)))

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
        return self._filter(cond)

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

    array = Frame.values

    @property
    def T(self) -> "Series":
        return self

    def transpose(self) -> "Series":
        return self

    def ravel(self):
        return self.to_pandas().values

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

    def transform(self, func, *args, **kwargs) -> "Series":
        """pandas transform for a callable = elementwise apply that must
        preserve length — same Arrow path as apply."""
        return self.apply(func, *args, **kwargs)

    def aggregate(self, funcs):
        return self.agg(funcs)

    def multiply(self, other): return self * other
    def subtract(self, other): return self - other

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

    def groupby(self, by=None, level=None):
        """s.groupby(key_series).mean() for a SAME-ANCHOR key series (the
        df-derived idiom), or s.groupby(level=...) over a struct-backed
        MultiIndex — both route through the engine's grouped machinery
        (one hash aggregate; NaN keys dropped like pandas)."""
        from pontem_spark.core.frame import DataFrame as PFrame

        if level is not None:
            names = self._index_level_names()
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
        return self._rewrap(j, order_spec=None)

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
        return self._rewrap(j, order_spec=None)

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

    @property
    def dtypes(self):
        return self.dtype

    # accessors ---------------------------------------------------------------

    @property
    def str(self):
        from pontem_spark.core.accessors import StringAccessor

        return StringAccessor(self)

    @property
    def dt(self):
        from pontem_spark.core.accessors import DatetimeAccessor

        return DatetimeAccessor(self)

