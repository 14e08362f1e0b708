"""Round-10 composition-probe pins: the VISIBLE order (order_spec) is
the engine's pandas row order, and it must (a) survive every
order-preserving op and (b) drive every positional computation.

The r10 frame composition probe found seven composition failures
in one sweep, all in two classes:
1. order-preserving ops (mask filter, dropna, sample, query, setitem,
   drop_duplicates) dropped the order_spec — output silently reverted
   to index order;
2. positional ops (cumsum/shift/ffill/pct_change/rolling/expanding/
   ewm/interpolate/rank/duplicated) ordered their windows by INDEX_COL,
   so a sorted frame COMPUTED in unsorted order — wrong values, not
   just wrong display order — and set_index rebound specs that named
   INDEX_COL (positional slices) to the NEW index.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pontem_spark.core.frame import DataFrame
from pontem_spark.core.series import Series

U = [7.5, -39.5, 33.5, -23.5, -19.5, 38.5, -43.5, -30.5, 32.5]
V = [1.0, None, 3.0, 4.0, None, 6.0, 7.0, 8.0, 9.0]
K = list("xyzxyzxyz")


def _mk():
    return (
        DataFrame({"u": U, "v": V, "k": K}),
        pd.DataFrame({"u": U, "v": pd.Series(V, dtype="float64"), "k": K}),
    )


def _eq_frame(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert list(got.columns) == list(want.columns)
    assert [str(x) for x in got.index] == [str(x) for x in want.index]
    for c in got.columns:
        for a, b in zip(got[c], want[c]):
            if pd.isna(a) or pd.isna(b):
                assert bool(pd.isna(a)) == bool(pd.isna(b)), c
            elif isinstance(a, (int, float, np.floating, np.integer)):
                assert abs(float(a) - float(b)) < 1e-9, c
            else:
                assert a == b, c


@pytest.mark.parametrize(
    "op",
    [
        lambda d: d[d["u"] > -25.0],
        lambda d: d.dropna(),
        lambda d: d.assign(w=d["v"] * 2),
        lambda d: d.query("u > -25.0"),
        lambda d: d.drop_duplicates(subset=["k"]),
    ],
    ids=["mask", "dropna", "assign", "query", "drop_dup"],
)
def test_order_preserving_ops_keep_sort(spark, op):
    df, pdf = _mk()
    got = op(df.sort_values("u", ascending=False)).to_pandas()
    want = op(pdf.sort_values("u", ascending=False))
    _eq_frame(got, want)


def test_positional_ops_follow_visible_order(spark):
    df, pdf = _mk()
    sd, sp = df.sort_values("u"), pdf.sort_values("u")
    for name, g, w in (
        ("cumsum", sd["v"].cumsum(), sp["v"].cumsum()),
        ("shift", sd["v"].shift(1), sp["v"].shift(1)),
        ("ffill", sd["v"].ffill(), sp["v"].ffill()),
        ("pct", sd["u"].pct_change(), sp["u"].pct_change()),
        ("roll", sd["u"].rolling(3).mean(), sp["u"].rolling(3).mean()),
        ("expand", sd["u"].expanding(2).sum(), sp["u"].expanding(2).sum()),
        ("interp", sd["v"].interpolate(), sp["v"].interpolate()),
        ("ewm", sd["u"].ewm(alpha=0.5).mean(), sp["u"].ewm(alpha=0.5).mean()),
        ("cummax", sd["v"].cummax(), sp["v"].cummax()),
    ):
        got, want = g.to_pandas(), w
        assert list(got.index) == list(want.index), name
        gv, wv = list(got.values), list(want.values)
        for a, b in zip(gv, wv):
            if pd.isna(a) or pd.isna(b):
                assert bool(pd.isna(a)) == bool(pd.isna(b)), name
            else:
                assert abs(float(a) - float(b)) < 1e-9, (name, gv, wv)


def test_set_index_keeps_sorted_and_reversed_order(spark):
    df, pdf = _mk()
    _eq_frame(
        df.sort_values("u", ascending=False).set_index("u").to_pandas(),
        pdf.sort_values("u", ascending=False).set_index("u"),
    )
    # the INDEX_COL-rebind case: positional slice spec names the index
    _eq_frame(
        df.tail(4).iloc[::-1].set_index("u").to_pandas(),
        pdf.tail(4).iloc[::-1].set_index("u"),
    )


def test_sort_index_then_set_index(spark):
    df, pdf = _mk()
    got = df[df["u"] > -25.0].sort_index().set_index("u").to_pandas()
    want = pdf[pdf["u"] > -25.0].sort_index().set_index("u")
    _eq_frame(got, want)


def test_duplicated_first_by_visible_order(spark):
    s = Series([2.0, 1.0, 2.0, 3.0, 1.0], name="v")
    ps = pd.Series([2.0, 1.0, 2.0, 3.0, 1.0])
    sorted_s, sorted_p = s.sort_values(ascending=False), ps.sort_values(ascending=False)
    for keep in ("first", "last"):
        got = sorted_s.duplicated(keep=keep).to_pandas()
        want = sorted_p.duplicated(keep=keep)
        assert list(got.index) == list(want.index), keep
        assert list(got.values) == list(want.values), keep
        g2 = sorted_s.drop_duplicates(keep=keep).to_pandas()
        w2 = sorted_p.drop_duplicates(keep=keep)
        assert list(g2.index) == list(w2.index), keep
        assert list(g2.values) == list(w2.values), keep


def test_explode_element_order_stable(spark):
    df = DataFrame({"a": [[3, 1, 2], [9, 8], []], "b": ["p", "q", "r"]})
    pdf = pd.DataFrame({"a": [[3, 1, 2], [9, 8], []], "b": ["p", "q", "r"]})
    got = df.explode("a").to_pandas()
    want = pdf.explode("a")
    assert list(got.index) == list(want.index)
    # dtype differs (Spark int-with-null → float64 vs pandas object) —
    # compare numerically
    gv = [None if pd.isna(x) else float(x) for x in got["a"]]
    wv = [None if pd.isna(x) else float(x) for x in want["a"]]
    assert gv == wv

    s = Series([[3, 1, 2], [9, 8]], name="a")
    ps = pd.Series([[3, 1, 2], [9, 8]])
    assert [float(x) for x in s.explode().to_pandas()] == [
        float(x) for x in ps.explode()
    ]


def test_repeat_keeps_visible_order(spark):
    s = Series([3.0, 1.0, 2.0])
    ps = pd.Series([3.0, 1.0, 2.0])
    got = s.sort_values().repeat(2).to_pandas()
    want = ps.sort_values().repeat(2)
    assert list(got.index) == list(want.index)
    assert list(got.values) == list(want.values)


def test_grouped_windows_follow_visible_order(spark):
    data = {
        "k": list("xyxyxy"),
        "v": [5.0, 1.0, 3.0, 2.0, 4.0, 6.0],
        "u": [10.0, 20.0, 5.0, 8.0, 30.0, 1.0],
    }
    df = DataFrame(data)
    pdf = pd.DataFrame(data)
    sd, sp = df.sort_values("u"), pdf.sort_values("u")
    for name, g, w in (
        ("cumsum", sd.groupby("k")["v"].cumsum(), sp.groupby("k")["v"].cumsum()),
        ("shift", sd.groupby("k")["v"].shift(1), sp.groupby("k")["v"].shift(1)),
        ("diff", sd.groupby("k")["v"].diff(), sp.groupby("k")["v"].diff()),
        ("pct", sd.groupby("k")["v"].pct_change(), sp.groupby("k")["v"].pct_change()),
        ("cumcount", sd.groupby("k")["v"].cumcount(), sp.groupby("k")["v"].cumcount()),
    ):
        got, want = list(g.to_pandas()), list(w)
        assert len(got) == len(want), name
        for a, b in zip(got, want):
            if pd.isna(a) or pd.isna(b):
                assert bool(pd.isna(a)) == bool(pd.isna(b)), name
            else:
                assert abs(float(a) - float(b)) < 1e-9, (name, got, want)
    # positional picks follow the visible order too
    gh = sd.groupby("k").head(1).to_pandas()
    wh = sp.groupby("k").head(1)
    assert list(gh["v"]) == list(wh["v"])
    # grouped rolling / ewm values (result row order is engine-specific)
    gr = sd.groupby("k")["v"].rolling(2).mean().to_pandas()
    wr = sp.groupby("k")["v"].rolling(2).mean()
    assert sorted(round(x, 9) for x in gr if not pd.isna(x)) == sorted(
        round(float(x), 9) for x in wr if not pd.isna(x)
    )
    ge = sd.groupby("k")["v"].ewm(alpha=0.5).mean().to_pandas()
    we = sp.groupby("k")["v"].ewm(alpha=0.5).mean()
    assert sorted(round(x, 9) for x in ge) == sorted(round(float(x), 9) for x in we)


def test_frame_ewm_follows_visible_order(spark):
    data = {"v": [5.0, 1.0, 3.0, 2.0], "u": [10.0, 20.0, 5.0, 8.0]}
    df, pdf = DataFrame(data), pd.DataFrame(data)
    got = df.sort_values("u")[["v"]].ewm(alpha=0.5).mean().to_pandas()
    want = pdf.sort_values("u")[["v"]].ewm(alpha=0.5).mean()
    assert list(got.index) == list(want.index)
    assert [round(x, 9) for x in got["v"]] == [round(float(x), 9) for x in want["v"]]


def test_window_columns_fixed_before_filter(spark):
    """A window-derived column assigned back then FILTERED keeps its
    pre-filter values (pandas evaluates eagerly; a lazy window expression
    would recompute over the filtered rows — r10 probe batch 7b)."""
    data = {
        "u": [-40.5, 8.5, 43.5, 1.5, 4.5, 18.5, 45.5, -14.5, 19.5, -46.5],
        "k": list("xxyyzyzzyy"),
    }
    df, pdf = DataFrame(data), pd.DataFrame(data)
    a = df.assign(dd=lambda d: d.duplicated(subset=["k"]))
    a = a[a["u"] > -20.0]
    b = pdf.assign(dd=lambda p: p.duplicated(subset=["k"]))
    b = b[b["u"] > -20.0]
    got, want = a.to_pandas(), b
    assert list(got.index) == list(want.index)
    assert list(got["dd"]) == list(want["dd"])
    # Series flavor: cumsum then mask
    s = Series([1.0, 2.0, 3.0, 4.0], name="v")
    ps = pd.Series([1.0, 2.0, 3.0, 4.0])
    cs, pcs = s.cumsum(), ps.cumsum()
    got_s = cs[cs > 2.0].to_pandas()
    want_s = pcs[pcs > 2.0]
    assert list(got_s.index) == list(want_s.index)
    assert list(got_s.values) == list(want_s.values)


def test_dropna_after_window_assign(spark):
    """dropna filters on the materialized projection — a grouped-cumsum
    column inside WHERE is illegal in Spark (r10 probe batch 7b)."""
    data = {"u": [5.5, None, 3.5, 2.5], "k": list("xyxy"), "v": [1.0, 2.0, None, 4.0]}
    df, pdf = DataFrame(data), pd.DataFrame(data)
    g = df.ffill().assign(gc=lambda d: d.groupby("k")["u"].cumsum()).dropna().to_pandas()
    w = pdf.ffill().assign(gc=lambda p: p.groupby("k")["u"].cumsum()).dropna()
    assert list(g.index) == list(w.index)
    assert list(g["gc"]) == list(w["gc"])


def test_frame_duplicated_visible_order(spark):
    data = {"u": [5.5, 1.5, 3.5, 2.5, 4.5], "k": list("xyxyx")}
    df, pdf = DataFrame(data), pd.DataFrame(data)
    for keep in ("first", "last"):
        a = df.iloc[::-1].sort_values("u", ascending=False).duplicated(
            subset=["k"], keep=keep
        ).to_pandas()
        b = pdf.iloc[::-1].sort_values("u", ascending=False).duplicated(
            subset=["k"], keep=keep
        )
        assert list(a.index) == list(b.index), keep
        assert list(a.values) == list(b.values), keep


def test_series_binop_keeps_left_order(spark):
    """The LEFT operand's visible order carries through an aligned binop
    (diff = self - self.shift() on a sorted series stays sorted — r10
    probe batch 8)."""
    s = Series([7.25, -12.75, -3.75, 10.25, 26.25], name="v")
    ps = pd.Series([7.25, -12.75, -3.75, 10.25, 26.25])
    got = s.sort_values(ascending=False).diff().to_pandas()
    want = ps.sort_values(ascending=False).diff()
    assert list(got.index) == list(want.index)
    for a, b in zip(got.values, want.values):
        if pd.isna(a) or pd.isna(b):
            assert bool(pd.isna(a)) == bool(pd.isna(b))
        else:
            assert abs(float(a) - float(b)) < 1e-9


def _chain_operands(S, F, cat):
    """Operands of the binop/window chain-link sweep, built with the
    Series ctor ``S``, frame ctor ``F`` and ``concat`` of either
    library."""
    s = S([4.0, None, 2.0, 8.0, 6.0], index=[1, 2, 3, 4, 5])
    return {
        "l": S([5.0, 1.0, 3.0, 7.0], index=[10, 20, 30, 40]).sort_values(),
        "r": S([1.0, 2.0, 3.0, 4.0, 5.0], index=[10, 20, 30, 40, 50]),
        "r2": S([9.0, 9.0, 9.0, 9.0], index=[10, 20, 30, 40]),
        "s": s,
        "o": S([None, 1.0, None, 2.0, None], index=[1, 2, 3, 4, 5]),
        "fa": F({"x": [1.0, 2.0, 3.0]}),
        "fb": F({"y": [10.0, 20.0, 30.0]}),
        "F": F,
        "cat": cat,
    }


def _local(x):
    return x.to_pandas().tolist() if hasattr(x, "to_pandas") else x.tolist()


# aligned-binop and window outputs as links of longer chains (the
# conditional sorted-union order under composition), where/mask/clip/
# combine_first chains, and concat(axis=1) outputs feeding chains
CHAIN_LINKS = {
    "binop>cumsum": lambda d: (d["l"] + d["r"]).cumsum(),
    "binop>shift": lambda d: (d["l"] + d["r"]).shift(1),
    "binop>sort_values": lambda d: (d["l"] + d["r"]).sort_values(),
    "binop>dropna>rank": lambda d: (d["l"] + d["r"]).dropna().rank(),
    "binop>fillna>diff": lambda d: (d["l"] + d["r"]).fillna(0.0).diff(),
    "binop>head3": lambda d: (d["l"] + d["r"]).head(3),
    "binop>iloc_rev": lambda d: (d["l"] + d["r"]).iloc[::-1],
    "binop_matched>cumsum": lambda d: (d["l"] * d["r2"]).cumsum(),
    "binop_matched>rolling2": lambda d: (d["l"] * d["r2"]).rolling(2).mean(),
    "rolling>sort_values": lambda d: d["s"].rolling(2).mean().sort_values(),
    "rolling>dropna>cumsum": lambda d: d["s"].rolling(2).mean().dropna().cumsum(),
    "expanding>diff>fillna": lambda d: d["s"].expanding().sum().diff().fillna(-1.0),
    "pct_change>clip": lambda d: d["s"].pct_change().clip(upper=1.0),
    "diff>binop_self": lambda d: d["s"].diff() + d["s"],
    "rolling>merge>renum": lambda d: d["F"](
        {"k": [1, 2, 3, 4, 5], "roll": _local(d["s"].rolling(2).mean())}
    )
    .merge(d["F"]({"k": [2, 3, 4], "tag": ["a", "b", "c"]}), on="k")
    .reset_index(drop=True),
    "where>fillna>cumsum": lambda d: d["s"].where(d["s"] > 3.0).fillna(0.0).cumsum(),
    "mask>clip>rank": lambda d: d["s"].mask(d["s"] > 6.0).clip(lower=3.0).rank(),
    "combine_first>sort_values": lambda d: d["s"].combine_first(d["o"]).sort_values(),
    "combine_first>binop": lambda d: d["s"].combine_first(d["o"]) * 2 + 1,
    "concat1>sort_desc": lambda d: d["cat"]([d["fa"], d["fb"]], axis=1).sort_values(
        "x", ascending=False
    ),
    "concat1>assign>filter": lambda d: (
        lambda c: c.assign(z=c["x"] + c["y"])[c["x"] > 1.0]
    )(d["cat"]([d["fa"], d["fb"]], axis=1)),
}


@pytest.mark.parametrize("chain", list(CHAIN_LINKS), ids=list(CHAIN_LINKS))
def test_binop_and_window_outputs_as_chain_links(spark, chain):
    from pontem_spark.core.frame import concat

    fn = CHAIN_LINKS[chain]
    got = fn(_chain_operands(Series, DataFrame, concat)).to_pandas()
    want = fn(_chain_operands(pd.Series, pd.DataFrame, pd.concat))
    if isinstance(want, pd.Series):
        got, want = pd.DataFrame({"_s": list(got)}, index=got.index), want.to_frame("_s")
    _eq_frame(got, want)


# Series → Series chains 3-4 deep through sort/mask/window/dedup and the
# elementwise cells (s + 1.0, -s, the s[s > x] mask, pct_change), values
# AND index order after the whole chain (the r10 batch-8 sweep's family;
# unique values, so no tie order is involved)
SERIES_OPS = {
    "sort": lambda s: s.sort_values(),
    "sort_desc": lambda s: s.sort_values(ascending=False),
    "sort_index": lambda s: s.sort_index(),
    "mask_pos": lambda s: s[s > -15.0],
    "fillna0": lambda s: s.fillna(0.0),
    "dropna": lambda s: s.dropna(),
    "cumsum": lambda s: s.cumsum(),
    "cummax": lambda s: s.cummax(),
    "shift": lambda s: s.shift(1),
    "rank": lambda s: s.rank(),
    "abs": lambda s: s.abs(),
    "round": lambda s: s.round(0),
    "clip": lambda s: s.clip(-10.0, 10.0),
    "add1": lambda s: s + 1.0,
    "neg": lambda s: -s,
    "drop_dup": lambda s: s.drop_duplicates(),
    "nlargest4": lambda s: s.nlargest(4),
    "diff": lambda s: s.diff(),
    "pct": lambda s: s.pct_change(),
    "head5": lambda s: s.head(5),
    "tail6": lambda s: s.tail(6),
}
SERIES_CHAINS = [
    ("sort", "mask_pos", "add1", "neg"),
    ("sort_desc", "pct", "neg"),
    ("shift", "add1", "mask_pos", "cumsum"),
    ("dropna", "neg", "rank", "sort"),
    ("nlargest4", "neg", "diff"),
    ("fillna0", "add1", "pct", "tail6"),
    ("sort_index", "mask_pos", "neg", "cummax"),
    ("sort", "diff", "add1", "head5"),
    ("clip", "neg", "drop_dup", "sort_desc"),
    ("mask_pos", "pct", "abs", "round"),
]
SERIES_VALS = [7.25, None, -12.75, -3.75, 10.25, None, 26.25, -30.75, 2.25, -19.75]


@pytest.mark.parametrize("chain", SERIES_CHAINS, ids=[">".join(c) for c in SERIES_CHAINS])
def test_series_chains_keep_values_and_order(spark, chain):
    s, ps = Series(SERIES_VALS, name="v"), pd.Series(SERIES_VALS, dtype="float64")
    for name in chain:
        s, ps = SERIES_OPS[name](s), SERIES_OPS[name](ps)
    got = s.to_pandas()
    _eq_frame(pd.DataFrame({"v": got.values}, index=got.index), ps.to_frame("v"))
