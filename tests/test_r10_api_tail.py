"""Round-10 API tail: rank(na_option) and nlargest/nsmallest(keep) —
both also over an unsorted index —, drop_duplicates(keep),
quantile(list-q), value_counts(sort=False) — differential-pinned vs
pandas.

nlargest/nsmallest break boundary ties by visible position, like pandas.
Deviation: with n >= len(s) pandas falls back to a stable sort_values,
so its keep='last' DISPLAYS ties in first-position order while the lazy
plan (which cannot know n >= len without a count) shows them last-first;
those cases compare membership.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pontem_spark.core.frame import DataFrame
from pontem_spark.core.series import Series

VALS = [3.0, None, 1.0, 3.0, None, 2.0, 1.0, 5.0]
# an unsorted index: rank 'first' breaks ties by row position, not label
UNSORTED = [7, 2, 5, 0, 3, 6, 1, 4]


def _eq(got: pd.Series, want: pd.Series, order: bool = True) -> None:
    gv, wv = list(got.values), list(want.values)
    if not order:
        gv = sorted(gv, key=lambda x: (pd.isna(x), str(x)))
        wv = sorted(wv, key=lambda x: (pd.isna(x), str(x)))
    assert len(gv) == len(wv), (gv, wv)
    for a, b in zip(gv, wv):
        if pd.isna(a) or pd.isna(b):
            assert bool(pd.isna(a)) == bool(pd.isna(b)), (gv, wv)
        elif isinstance(a, (int, float, np.floating, np.integer)):
            assert abs(float(a) - float(b)) < 1e-9, (gv, wv)
        else:
            assert a == b, (gv, wv)
    if order:
        gi, wi = list(got.index), list(want.index)
        assert gi == wi, (gi, wi)


@pytest.mark.parametrize("method", ["average", "min", "max", "dense", "first"])
@pytest.mark.parametrize("na_option", ["keep", "top", "bottom"])
def test_rank_na_option(spark, method, na_option):
    for index in (None, UNSORTED):
        ps = pd.Series(VALS, dtype="float64", index=index)
        ss = Series(VALS, name="v", index=index)
        for ascending, pct in ((True, False), (False, True), (True, True)):
            got = ss.rank(
                method=method, ascending=ascending, pct=pct, na_option=na_option
            ).to_pandas()
            want = ps.rank(
                method=method, ascending=ascending, pct=pct, na_option=na_option
            )
            _eq(got, want)


def test_rank_na_option_all_missing(spark):
    ps = pd.Series([None, None, None], dtype="float64")
    ss = Series([None, None, None])
    for na_option in ("keep", "top", "bottom"):
        _eq(
            ss.rank(na_option=na_option).to_pandas(),
            ps.rank(na_option=na_option),
        )


def test_rank_bad_na_option(spark):
    with pytest.raises(ValueError):
        Series([1, 2]).rank(na_option="up")


@pytest.mark.parametrize("keep", ["first", "last", "all"])
def test_series_n_extreme_keep(spark, keep):
    for index in (None, UNSORTED):
        ps = pd.Series(VALS, dtype="float64", index=index)
        ss = Series(VALS, name="v", index=index)
        for n in (0, 1, 2, 3, 6, 10):
            # keep='last' with n >= len: pandas' stable-sort fallback
            # (module docstring), membership only
            order = not (keep == "last" and n >= len(VALS))
            _eq(ss.nlargest(n, keep=keep).to_pandas(), ps.nlargest(n, keep=keep), order=order)
            _eq(ss.nsmallest(n, keep=keep).to_pandas(), ps.nsmallest(n, keep=keep), order=order)


def test_series_n_extreme_bad_keep(spark):
    with pytest.raises(ValueError):
        Series([1, 2]).nlargest(1, keep="none")


@pytest.mark.parametrize("keep", ["first", "last", False])
def test_series_drop_duplicates_keep(spark, keep):
    vals = [1, 2, 1, 3, 2, 4]
    _eq(
        Series(vals).drop_duplicates(keep=keep).to_pandas(),
        pd.Series(vals).drop_duplicates(keep=keep),
    )


@pytest.mark.parametrize(
    "interp", ["linear", "lower", "higher", "nearest", "midpoint"]
)
def test_series_quantile_list(spark, interp):
    ps = pd.Series(VALS, dtype="float64")
    ss = Series(VALS)
    got = ss.quantile([0.1, 0.5, 0.9], interpolation=interp)
    want = ps.quantile([0.1, 0.5, 0.9], interpolation=interp)
    _eq(got, want)


def test_series_quantile_list_all_missing(spark):
    got = Series([None, None]).quantile([0.25, 0.75])
    assert list(got.index) == [0.25, 0.75]
    assert got.isna().all()


def test_value_counts_sort_false(spark):
    vals = [2, 1, 2, 3, 1, 2]
    got = Series(vals).value_counts(sort=False).to_pandas()
    want = pd.Series(vals).value_counts(sort=False)
    # deviation: label order instead of pandas' first-appearance order
    assert dict(got.items()) == dict(want.items())
    assert list(got.index) == sorted(got.index)


@pytest.mark.parametrize("na_option", ["keep", "top", "bottom"])
@pytest.mark.parametrize("method", ["average", "min", "max", "dense", "first"])
def test_frame_rank_na_option(spark, method, na_option):
    data = {"a": VALS, "b": [5.0, 1.0, None, 2.0, 2.0, None, 7.0, 0.0]}
    for index in (None, UNSORTED):
        pdf = pd.DataFrame(data, index=index).astype("float64")
        df = DataFrame(data, index=index)
        for pct in (False, True):
            got = df.rank(method=method, pct=pct, na_option=na_option).to_pandas()
            want = pdf.rank(method=method, pct=pct, na_option=na_option)
            for c in ("a", "b"):
                _eq(got[c], want[c])


@pytest.mark.parametrize("keep", ["first", "last", "all"])
def test_frame_n_extreme_keep(spark, keep):
    data = {"x": [3.0, None, 1.0, 3.0, 2.0, 3.0], "y": [1, 2, 3, 4, 5, 0]}
    for index in (None, [4, 0, 5, 2, 1, 3]):
        pdf = pd.DataFrame(
            {"x": [3.0, np.nan, 1.0, 3.0, 2.0, 3.0], "y": data["y"]}, index=index
        )
        df = DataFrame(data, index=index)
        for n in (0, 1, 2, 3, 5, 8):
            order = not (keep == "last" and n >= len(data["y"]))
            for g, w in (
                (df.nlargest(n, "x", keep=keep).to_pandas(), pdf.nlargest(n, "x", keep=keep)),
                (df.nsmallest(n, "x", keep=keep).to_pandas(), pdf.nsmallest(n, "x", keep=keep)),
            ):
                _eq(g["x"], w["x"], order=order)
                _eq(g["y"], w["y"], order=order)


def test_frame_nsmallest_missing_sorts_last(spark):
    # r10 probe bug: Spark asc-nulls-first led nsmallest with missing rows
    df = DataFrame({"x": [3.0, None, 1.0], "y": [1, 2, 3]})
    got = df.nsmallest(2, "x").to_pandas()
    assert list(got["y"]) == [3, 1]


def test_frame_n_extreme_multicol_keep_all(spark):
    data = {"x": [1.0, 2.0, 2.0, 2.0, 1.0], "z": [9, 8, 8, 7, 6], "y": list("abcde")}
    pdf = pd.DataFrame(data)
    df = DataFrame(data)
    for n in (1, 2, 3):
        g = df.nlargest(n, ["x", "z"], keep="all").to_pandas()
        w = pdf.nlargest(n, ["x", "z"], keep="all")
        _eq(g["y"], w["y"])
        g = df.nsmallest(n, ["x", "z"], keep="all").to_pandas()
        w = pdf.nsmallest(n, ["x", "z"], keep="all")
        _eq(g["y"], w["y"])


def test_frame_quantile_list(spark):
    pdf = pd.DataFrame({"x": [3.0, np.nan, 1.0, 3.0, 2.0], "y": [1, 2, 3, 4, 5]})
    df = DataFrame({"x": [3.0, None, 1.0, 3.0, 2.0], "y": [1, 2, 3, 4, 5]})
    got = df.quantile([0.25, 0.75])
    want = pdf.quantile([0.25, 0.75])
    for c in ("x", "y"):
        _eq(got[c], want[c])
