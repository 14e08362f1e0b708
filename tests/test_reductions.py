"""The reduction table (core/reductions.py) against pandas 2.2.2: sum,
mean, min, max, count, nunique, median, quantile, std/var/sem (ddof 0, 1
and 2), prod, skew, kurt, any and all — plus first/last grouped — over
int, float-with-missing, all-missing, empty, single-row, constant,
mean-1e6, bool and str columns (str only for min, max, count, nunique,
any and all), through four forms:

- ``Series``: the named reduction;
- ``DataFrame``: the named reduction of a one-column frame;
- ``DataFrame.agg({col: [hows]})``, and ``DataFrame.agg({col: how})``,
  which returns a Series;
- ``groupby(k).agg({col: [hows]})`` with a single group, also over an
  unsorted index, where first/last follow the row order, not the labels;

and ``describe`` of the Series, DataFrame and GroupBy forms. A case is
compared wherever pandas returns a value for it (pandas raises for a bool
quantile and a grouped kurt); values match with a relative tolerance of
1e-8 (absolute 1e-12 around zero), missing matches missing.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from pontem_spark.core import DataFrame, from_spark

NAN = float("nan")
BIG = [1e6 + 0.1, 1e6 + 0.2, 1e6 + 0.7, 1e6 + 1.3, NAN, 1e6 + 2.9]
# fixture → (Spark type, values, pandas dtype); None is a Spark NULL and
# pandas NaN, NaN a Spark NaN
FIXTURES = {
    "int": ("bigint", [3, 0, -2, 5, 7, 11], "int64"),
    "float": ("double", [1.5, NAN, -2.0, None, 4.25, 0.0, 9.5], "float64"),
    "missing": ("double", [NAN, None, NAN], "float64"),
    "empty": ("double", [], "float64"),
    "single": ("double", [2.5], "float64"),
    "constant": ("double", [4.0] * 5, "float64"),
    "big": ("double", BIG, "float64"),
    "bool": ("boolean", [True, False, True, True, False], "bool"),
    "str": ("string", ["a", "", "b", "cd"], "object"),
}
NUMERIC_HOWS = [
    "sum", "mean", "min", "max", "count", "nunique", "median", "quantile",
    "std", "var", "sem", "prod", "skew", "kurt", "any", "all",
]
STR_HOWS = ["min", "max", "count", "nunique", "any", "all"]
DDOF_HOWS = ("std", "var", "sem")


def _hows(name: str) -> "list[str]":
    return STR_HOWS if name == "str" else NUMERIC_HOWS


def _cases(name: str) -> "list[tuple[str, dict]]":
    """(how, kwargs) for the named-reduction forms: ddof 0 and 2 on top of
    the default 1."""
    out = [(h, {}) for h in _hows(name)]
    return out + [(h, {"ddof": d}) for h in DDOF_HOWS if h in _hows(name) for d in (0, 2)]


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _same(got, want) -> bool:
    if _missing(got) or _missing(want):
        return _missing(got) and _missing(want)
    if isinstance(want, str) or isinstance(got, str):
        return got == want
    return math.isclose(float(got), float(want), rel_tol=1e-8, abs_tol=1e-12)


def _run(fn):
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 — any raise
        return ("raise", f"{type(exc).__name__}: {str(exc)[:80]}")


def _raised(v) -> bool:
    return isinstance(v, tuple) and v[:1] == ("raise",)


def _check(cases: dict):
    """cases: key → (engine thunk, pandas thunk). Skips what pandas
    rejects; collects every mismatch."""
    bad = []
    for key, (engine, panda) in cases.items():
        want = _run(panda)
        if _raised(want):
            continue
        got = _run(engine)
        if _raised(got) or not _same(got, want):
            bad.append(f"{key}: engine {got!r} vs pandas {want!r}")
    assert not bad, "\n".join(bad)


def _sql_literal(v, stype: str) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return f"CAST({'NULL' if v is None else repr('NaN')} AS {stype})"
    if isinstance(v, str):
        return repr(v)
    return f"CAST({v!r} AS {stype})"


@pytest.fixture(scope="module")
def frames(spark):
    """A local relation per fixture (VALUES: no Python RDD to scan per
    job), indexed by ``i``, grouped by ``k`` = 1."""
    out = {}
    for name, (stype, values, pdt) in FIXTURES.items():
        rows = [(i, 1, v) for i, v in enumerate(values)] or [(0, 1, None)]
        body = ", ".join(f"({i}L, {k}L, {_sql_literal(v, stype)})" for i, k, v in rows)
        sdf = spark.sql(f"SELECT * FROM VALUES {body} AS t(i, k, v)")
        if not values:
            sdf = sdf.filter("false")
        pdf = pd.DataFrame({"k": pd.Series([1] * len(values), dtype="int64"),
                            "v": pd.Series(values, dtype=pdt)})
        out[name] = (from_spark(sdf, index_col="i"), pdf)
    # rows in the order of an unsorted index: first/last read that order
    values, index = [NAN, 5.0, 6.0], [2, 1, 0]
    out["unsorted"] = (
        DataFrame({"k": [1, 1, 1], "v": values}, index=index, spark=spark),
        pd.DataFrame({"k": [1, 1, 1], "v": values}, index=index),
    )
    return out


@pytest.mark.parametrize("name", list(FIXTURES))
def test_series_reductions(frames, name):
    f, pdf = frames[name]
    s, ps = f["v"], pdf["v"]
    _check({
        (h, tuple(kw.items())): (
            (lambda h=h, kw=kw: getattr(s, h)(**kw)),
            (lambda h=h, kw=kw: getattr(ps, h)(**kw)),
        )
        for h, kw in _cases(name)
    })


@pytest.mark.parametrize("name", list(FIXTURES))
def test_frame_reductions(frames, name):
    f, pdf = frames[name]
    d, pd_ = f[["v"]], pdf[["v"]]
    _check({
        (h, tuple(kw.items())): (
            (lambda h=h, kw=kw: getattr(d, h)(**kw)["v"]),
            (lambda h=h, kw=kw: getattr(pd_, h)(**kw)["v"]),
        )
        for h, kw in _cases(name)
    })


def _series_only(r):
    """pandas returns a Series for a str-per-column agg spec."""
    if not isinstance(r, pd.Series):
        raise TypeError(f"agg({{col: how}}) returned a {type(r).__name__}")
    return r


@pytest.mark.parametrize("name", list(FIXTURES))
def test_frame_agg(frames, name):
    """One agg call per fixture: every reduction in one spec; plus a str
    spec, which returns a Series."""
    f, pdf = frames[name]
    hows = _hows(name)
    got = _run(lambda: f.agg({"v": hows}))
    assert not _raised(got), got
    cases = {}
    for h in hows:
        cases[h] = ((lambda h=h: got.loc[h, "v"]), (lambda h=h: pdf.agg({"v": [h]}).loc[h, "v"]))
    cases["str spec"] = (
        lambda: _series_only(f.agg({"v": "max"}))["v"], lambda: pdf.agg({"v": "max"})["v"]
    )
    _check(cases)


@pytest.mark.parametrize("name", [*FIXTURES, "unsorted"])
def test_groupby_agg(frames, name):
    """One single-group agg per fixture; what pandas rejects (a grouped
    kurt) drops out of the spec."""
    f, pdf = frames[name]
    hows = _hows(name) + ([] if name == "str" else ["first", "last"])
    wants = {h: _run(lambda h=h: pdf.groupby("k").agg({"v": [h]})) for h in hows}
    hows = [h for h in hows if not _raised(wants[h])]
    got = f.groupby("k").agg({"v": hows}).to_pandas()
    if len(pdf) == 0:
        assert len(got) == 0 and all(len(wants[h]) == 0 for h in hows)
        return
    assert list(got.index) == [1]
    _check({
        h: ((lambda h=h: got[f"v_{h}"].iloc[0]), (lambda h=h: wants[h][("v", h)].iloc[0]))
        for h in hows
    })


def _numeric_describe(name: str) -> bool:
    return name not in ("bool", "str")


@pytest.mark.parametrize("name", [n for n in FIXTURES if _numeric_describe(n)])
def test_describe(frames, name):
    """describe of the Series, DataFrame and GroupBy forms."""
    f, pdf = frames[name]
    want = pdf["v"].describe()
    got = f["v"].describe()
    assert list(got.index) == list(want.index)
    cases = {("series", k): ((lambda k=k: got[k]), (lambda k=k: want[k])) for k in want.index}
    gf, wf = f[["v"]].describe(), pdf[["v"]].describe()
    assert list(gf.index) == list(wf.index)
    cases.update({
        ("frame", k): ((lambda k=k: gf.loc[k, "v"]), (lambda k=k: wf.loc[k, "v"]))
        for k in wf.index
    })
    gg, wg = f.groupby("k").describe().to_pandas(), pdf.groupby("k").describe()
    assert len(gg) == len(wg)
    if len(wg):
        cases.update({
            ("groupby", k): (
                (lambda k=k: gg[f"v_{k}"].iloc[0]), (lambda k=k: wg[("v", k)].iloc[0])
            )
            for k in want.index
        })
    _check(cases)


def test_frame_reductions_run_one_pass(spark, frames):
    """prod and sem(ddof=2) of a 3-column frame run as many Spark jobs as
    skew: one aggregation for every column, not one per column."""
    sc = spark.sparkContext
    f = frames["big"][0]
    d = f.assign(w=f["v"] * 2.0, x=f["v"] - 1.0)[["v", "w", "x"]]

    def jobs(fn, group):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    skew = jobs(d.skew, "reductions-skew")
    assert jobs(d.prod, "reductions-prod") == skew
    assert jobs(lambda: d.sem(ddof=2), "reductions-sem2") == skew

