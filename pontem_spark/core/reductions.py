"""pandas reductions over Spark columns — the one table under Series,
DataFrame and GroupBy reductions.

:data:`REDUCTIONS` maps each name to ONE aggregate Column over the
pandas-valid cell (``cells.valid``: NULL and float NaN blanked to NULL,
pandas' skipna), with pandas 2.2.2's empty and degenerate results
computed in the plan:

- sum of nothing is 0 and prod 1; count and nunique are 0, any False,
  all True; every other reduction of nothing is missing;
- std, var and sem take ``ddof`` and are missing when n − ddof ≤ 0;
- skew (adjusted Fisher-Pearson G1) is missing below 3 values and kurt
  (bias-adjusted excess G2) below 4; both are 0.0 at zero variance.
  They and sem come from Spark's central-moment aggregates
  (``skewness``, ``kurtosis``, ``stddev_samp``), which stay exact where
  raw power sums cancel (values around 1e6);
- bool cells count as 0/1 for the arithmetic reductions; any/all use
  pandas' per-dtype truthiness (0, '' and False are falsy);
- first/last are the first/last non-missing value in a row ``order``
  (or along an ordered window ``over``).

Series applies an entry in one ``select(...).first()``, DataFrame over
its :func:`eligible` columns in one ``select``, GroupBy inside
``groupBy().agg`` and SeriesGroupBy.transform over a window (``over``).
"""

from __future__ import annotations

from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, functions as F

from pontem_spark.core.cells import NUMERIC_DTYPES, valid

# the stats of describe, in pandas' row order; the percent rows are
# linear quantiles
DESCRIBE = ("count", "mean", "std", "min", "25%", "50%", "75%", "max")
_NUMERIC_ONLY = frozenset(
    {"sum", "mean", "avg", "median", "quantile", "std", "var", "sem", "prod", "skew", "kurt"}
)


def eligible(how: str, dt: "str | None") -> bool:
    """pandas ``numeric_only=True``: the arithmetic reductions take
    numeric and bool columns, the others every column; ``describe``
    takes numbers only (pandas describes bool and str apart)."""
    if how == "describe":
        return dt in NUMERIC_DTYPES
    return how not in _NUMERIC_ONLY or dt in NUMERIC_DTYPES or dt == "boolean"


class _Cell(NamedTuple):
    """One reduction's input: the valid cell and its arguments."""

    v: Column
    dt: "str | None"
    ddof: int
    q: Any
    order: "Column | None"
    over: Any  # a WindowSpec for a transform, else None

    def agg(self, e: Column) -> Column:
        return e if self.over is None else e.over(self.over)

    @property
    def num(self) -> Column:
        return self.v.cast("bigint") if self.dt == "boolean" else self.v

    @property
    def n(self) -> Column:
        return self.agg(F.count(self.v)).cast("double")


def _var(c: _Cell) -> Column:
    if c.ddof in (0, 1):
        return c.agg((F.var_samp if c.ddof else F.var_pop)(c.num))
    n = c.n
    return F.when(n > c.ddof, c.agg(F.var_pop(c.num)) * n / (n - float(c.ddof)))


def _std(c: _Cell) -> Column:
    if c.ddof in (0, 1):
        return c.agg((F.stddev_samp if c.ddof else F.stddev_pop)(c.num))
    return F.sqrt(_var(c))


def _skew(c: _Cell) -> Column:
    # Spark's skewness is the population g1, NULL at zero variance
    n, g = c.n, c.agg(F.skewness(c.num))
    return F.when(n >= 3, F.coalesce(g * F.sqrt(n * (n - 1)) / (n - 2), F.lit(0.0)))


def _kurt(c: _Cell) -> Column:
    # Spark's kurtosis is the population excess g2, NULL at zero variance
    n, g = c.n, c.agg(F.kurtosis(c.num))
    return F.when(
        n >= 4,
        F.coalesce((n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * g + 6), F.lit(0.0)),
    )


def _truth(c: _Cell) -> Column:
    if c.dt == "boolean":
        return c.v
    if c.dt == "string":
        return F.length(c.v) > 0
    return c.v != F.lit(0)


def _pick(fn, edge) -> Callable[[_Cell], Column]:
    # min_by/max_by skip rows whose ordering key is NULL, so gating the
    # key on validity picks the first/last NON-MISSING value; a transform
    # passes no ``order`` but an ``over`` ordered by the rows and framed
    # over the whole partition, whose first/last valid value is the pick
    def entry(c: _Cell) -> Column:
        if c.order is not None:
            return c.agg(fn(c.v, F.when(c.v.isNotNull(), c.order)))
        if c.over is None:
            raise ValueError("first/last need a row order (a grouped reduction)")
        return c.agg(edge(c.v, ignorenulls=True))

    return entry


def _quantile(c: _Cell) -> Column:
    q = F.lit(c.q) if isinstance(c.q, (int, float)) else F.array(*[F.lit(float(x)) for x in c.q])
    return c.agg(F.percentile(c.num, q))


class _Entry(NamedTuple):
    fn: Callable[[_Cell], Column]
    empty: Any = None  # pandas' result over no values, where not missing
    window: bool = True  # can run over a window


REDUCTIONS: "dict[str, _Entry]" = {
    "sum": _Entry(lambda c: c.agg(F.sum(c.num)), 0),
    "mean": _Entry(lambda c: c.agg(F.mean(c.num))),
    "min": _Entry(lambda c: c.agg(F.min(c.v))),
    "max": _Entry(lambda c: c.agg(F.max(c.v))),
    "count": _Entry(lambda c: c.agg(F.count(c.v))),
    "nunique": _Entry(lambda c: F.count_distinct(c.v), window=False),
    "median": _Entry(lambda c: c.agg(F.percentile(c.num, F.lit(0.5)))),
    "quantile": _Entry(_quantile),
    "std": _Entry(_std),
    "var": _Entry(_var),
    "sem": _Entry(lambda c: _std(c) / F.sqrt(c.n)),
    "prod": _Entry(lambda c: c.agg(F.product(c.num)), 1.0),
    "skew": _Entry(_skew),
    "kurt": _Entry(_kurt),
    "first": _Entry(_pick(F.min_by, F.first)),
    "last": _Entry(_pick(F.max_by, F.last)),
    "any": _Entry(lambda c: c.agg(F.max(_truth(c))), False),
    "all": _Entry(lambda c: c.agg(F.min(_truth(c))), True),
}
REDUCTIONS["avg"] = REDUCTIONS["mean"]


def column(
    how: str,
    col: Column,
    dt: "str | None",
    *,
    ddof: int = 1,
    q: Any = 0.5,
    order: "Column | None" = None,
    over=None,
    empty: bool = True,
) -> Column:
    """The aggregate Column of reduction ``how`` over the raw cell ``col``
    of Spark dtype ``dt``. ``over`` runs it over a window (a grouped
    transform); ``empty=False`` leaves pandas' empty result out, for a
    caller that fills empty cells itself (pivot cells, resample's grid)."""
    entry = REDUCTIONS.get(how)
    if entry is None or (over is not None and not entry.window):
        raise ValueError(f"unsupported aggregation: {how!r}")
    e = entry.fn(_Cell(valid(col, dt), dt, ddof, q, order, over))
    if empty and entry.empty is not None:
        e = F.coalesce(e, F.lit(entry.empty))
    return e


def describe(col: Column, dt: "str | None") -> "list[tuple[str, Column]]":
    """pandas describe's (label, aggregate) rows for one column."""
    return [
        (
            label,
            column("quantile", col, dt, q=float(label[:-1]) / 100)
            if label.endswith("%")
            else column(label, col, dt),
        )
        for label in DESCRIBE
    ]
