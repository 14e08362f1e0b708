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

The module also holds the seeded window-family differential (rolling /
expanding / ewm, shift / diff / pct_change / cum* and rank over the
Series, frame and grouped forms, grouped transform, dt.round ties) and
the resample/asfreq and reshape outputs as chain links, each compared
against pandas.
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


# -- seeded rolling / expanding / ewm differential ----------------------------
# The window-family differential over the Series form and the frame form
# (one frame column per NaN density, one shared window spec): window ×
# min_periods × NaN density × agg, and com/span/alpha/halflife × adjust ×
# ignore_na, against pandas with the default seeds 11 and 42.

_DENSITIES = (0.0, 0.18, 0.5)
_ROLL_AGGS = ("mean", "sum", "min", "max", "std", "var", "median", "count")


def _window_data(seed: int, n: int) -> "dict[str, list]":
    import random

    rng = random.Random(seed)
    return {
        f"d{round(p * 100)}": [
            np.nan if rng.random() < p else round(rng.uniform(-4, 4), 2)
            for _ in range(n)
        ]
        for p in _DENSITIES
    }


def _window_forms(spark, form: str, data: "dict[str, list]"):
    """(engine object, pandas twin): the 18% column as a Series, the whole
    frame, or the 18% column grouped by ``k`` — three groups and a NaN
    key, on a shuffled (non-monotonic) index."""
    if form == "series":
        return Series(data["d18"], spark=spark), pd.Series(data["d18"])
    if form == "frame":
        return DataFrame(data, spark=spark), pd.DataFrame(data)
    import random

    n = len(data["d18"])
    rng = random.Random(n)
    cols = {"k": [rng.choice([0.0, 1.0, 2.0, np.nan]) for _ in range(n)], "v": data["d18"]}
    index = rng.sample(range(3 * n), n)
    return (
        DataFrame(cols, index=index, spark=spark).groupby("k")["v"],
        pd.DataFrame(cols, index=index).groupby("k")["v"],
    )


def _by_label(got, want):
    """pandas indexes a grouped rolling/expanding/ewm result by (key,
    label) in group order; the engine keeps the labels of the valid-key
    rows in the visible order — the same rows, compared by label."""
    if not isinstance(want.index, pd.MultiIndex):
        return want
    want = want.droplevel(0)
    assert sorted(got.index) == sorted(want.index)
    return want.loc[got.index]


def _assert_close(got, want, label: str) -> None:
    """Values match within 1e-7 relative (equal infinities exactly),
    missing matches missing; a ``count`` also matches pandas' dtype
    (float64 for rolling/expanding)."""
    got = got if isinstance(got, pd.DataFrame) else got.to_frame("v")
    want = want if isinstance(want, pd.DataFrame) else want.to_frame("v")
    assert got.shape == want.shape, label
    for c in want.columns:
        if "count" in label:
            assert got[c].dtype == want[c].dtype, (label, c, got[c].dtype, want[c].dtype)
        for i, (a, b) in enumerate(zip(got[c].values, want[c].values)):
            if pd.isna(a) or pd.isna(b):
                assert bool(pd.isna(a)) == bool(pd.isna(b)), (label, c, i, a, b)
            elif float(a) != float(b):  # equal infinities match too
                assert abs(float(a) - float(b)) < 1e-7 * max(1.0, abs(float(b))), (
                    label, c, i, a, b,
                )


def _one_collect(results: dict) -> "dict[str, pd.DataFrame]":
    """Collect many window results over one source in ONE job: window-free
    sources keep every result on the source's anchor, so setitem assembles
    them column-wise."""
    out = None
    for label, r in results.items():
        cols = {label: r} if isinstance(r, Series) else {f"{label}|{c}": r[c] for c in r.columns}
        for name, col in cols.items():
            if out is None:
                out = col.to_frame(name)
            else:
                out[name] = col
    pdf = out.to_pandas()
    return {
        label: pdf[[c for c in pdf.columns if c == label or c.startswith(label + "|")]]
        .rename(columns=lambda c: c.split("|", 1)[-1])
        for label in results
    }


def _window_sweep(eng, pdo, windows: "dict[str, tuple]") -> None:
    results, wants = {}, {}
    for label, (kind, args, kw, agg) in windows.items():
        results[label] = getattr(getattr(eng, kind)(*args, **kw), agg)()
        wants[label] = getattr(getattr(pdo, kind)(*args, **kw), agg)()
    got = _one_collect(results)
    for label, want in wants.items():
        g = got[label]
        g = g.iloc[:, 0] if isinstance(want, pd.Series) else g
        _assert_close(g, _by_label(g, want), label)


@pytest.mark.parametrize("seed", [11, 42])
@pytest.mark.parametrize("form", ["series", "frame", "grouped"])
@pytest.mark.parametrize("window", [2, 4, 7])
def test_rolling_differential(spark, seed, form, window):
    """The grouped rolling takes no min_periods (pandas' full window)."""
    eng, pdo = _window_forms(spark, form, _window_data(seed, 30))
    minps = (None,) if form == "grouped" else (None, 1, window)
    _window_sweep(eng, pdo, {
        f"rolling w{window} mp{minp} {agg}": (
            "rolling", (window,), {} if minp is None else {"min_periods": minp}, agg
        )
        for minp in minps
        for agg in _ROLL_AGGS
    })


@pytest.mark.parametrize("seed", [11, 42])
@pytest.mark.parametrize("form", ["series", "frame", "grouped"])
def test_expanding_differential(spark, seed, form):
    eng, pdo = _window_forms(spark, form, _window_data(seed, 30))
    _window_sweep(eng, pdo, {
        f"expanding mp{minp} {agg}": ("expanding", (), {"min_periods": minp}, agg)
        for minp in (1, 3)
        for agg in _ROLL_AGGS
    })


@pytest.mark.parametrize("seed", [11, 42])
@pytest.mark.parametrize("form", ["series", "frame", "grouped"])
@pytest.mark.parametrize(
    "kw", [{"com": 2.0}, {"span": 5.0}, {"alpha": 0.3}, {"halflife": 3.0}],
    ids=["com", "span", "alpha", "halflife"],
)
def test_ewm_differential(spark, seed, form, kw):
    eng, pdo = _window_forms(spark, form, _window_data(seed + 1000, 25))
    for adjust in (True, False):
        for ignore_na in (True, False):
            got = eng.ewm(adjust=adjust, ignore_na=ignore_na, **kw).mean().to_pandas()
            want = pdo.ewm(adjust=adjust, ignore_na=ignore_na, **kw).mean()
            _assert_close(
                got, _by_label(got, want), f"ewm {kw} adjust={adjust} ignore_na={ignore_na}"
            )


_ROW_OPS = {
    "shift 1": ("shift", (1,)),
    "shift -2": ("shift", (-2,)),
    "diff 1": ("diff", (1,)),
    "diff 2": ("diff", (2,)),
    "pct_change": ("pct_change", ()),
    "cumsum": ("cumsum", ()),
    "cummax": ("cummax", ()),
    "cummin": ("cummin", ()),
}


@pytest.mark.parametrize("seed", [11, 42])
@pytest.mark.parametrize("form", ["series", "frame", "grouped"])
def test_row_aligned_differential(spark, seed, form):
    """shift/diff/pct_change/cum* and rank (method × ascending × pct) over
    whole-number values, so ranks tie; the grouped form's shuffled index
    makes rank 'first' break ties by row position, not by label. One
    collect per form: every result is row-aligned on the source anchor."""
    data = {
        c: [v if np.isnan(v) else float(round(v)) for v in vals]
        for c, vals in _window_data(seed + 3000, 30).items()
    }
    eng, pdo = _window_forms(spark, form, data)
    ops = {label: (op, args, {}) for label, (op, args) in _ROW_OPS.items()}
    ops.update({
        f"rank {method} asc={asc} pct={pct}": (
            "rank", (), {"method": method, "ascending": asc, "pct": pct}
        )
        for method in ("average", "min", "max", "dense", "first")
        for asc in (True, False)
        for pct in (False, True)
    })
    results, wants = {}, {}
    for label, (op, args, kw) in ops.items():
        results[label] = getattr(eng, op)(*args, **kw)
        wants[label] = getattr(pdo, op)(*args, **kw)
    got = _one_collect(results)
    for label, want in wants.items():
        g = got[label]
        _assert_close(g.iloc[:, 0] if isinstance(want, pd.Series) else g, want, label)


@pytest.mark.parametrize("seed", [11, 42])
def test_grouped_transform_differential(spark, seed):
    """groupby(k)[v].transform over NaN-bearing values and NaN keys."""
    import random

    rng = random.Random(seed + 2000)
    data = {
        "g": [rng.choice(["a", "b", "c", None]) for _ in range(40)],
        "v": [np.nan if rng.random() < 0.15 else round(rng.uniform(-4, 4), 2) for _ in range(40)],
    }
    df, pdf = DataFrame(data, spark=spark), pd.DataFrame(data)
    for how in ("mean", "sum", "min", "max", "count", "std", "first", "last"):
        got = df.groupby("g")["v"].transform(how).to_pandas()
        _assert_close(got, pdf.groupby("g")["v"].transform(how), f"transform {how}")


def test_dt_round_half_even_ties(spark):
    """pandas Timestamp.round sends .5 ties to the EVEN bucket."""
    stamps = pd.Series(pd.to_datetime([
        "2021-01-01 00:00:30", "2021-01-01 00:01:30", "2021-01-01 00:02:30",
        "2021-01-01 06:00:00", "2021-01-01 18:00:00",
        "2021-01-01 00:00:29.999999", "2021-01-01 00:07:30", "2021-01-01 00:12:30",
    ], format="mixed"))
    s = Series(list(stamps), spark=spark)
    for freq in ("min", "5min", "12h", "h"):
        got = [str(t) for t in s.dt.round(freq).to_pandas()]
        assert got == [str(t) for t in stamps.dt.round(freq)], freq


# -- resample / asfreq outputs as chain links ---------------------------------
# The bucket grid and the asfreq grid feeding positional ops, aligned
# arithmetic (same grid and different grids), rolling windows and frame
# reshapes, compared whole-chain against pandas on index and values.

_TS = pd.to_datetime([
    "2024-03-01 00:10", "2024-03-01 05:45", "2024-03-01 03:20",
    "2024-03-01 11:05", "2024-03-01 08:30", "2024-03-01 17:55",
    "2024-03-01 14:40", "2024-03-01 23:59", "2024-03-02 02:15",
    "2024-03-02 07:50",
])
_TS_VALS = [1.0, 2.5, None, 4.0, 5.5, 7.0, None, 8.5, 10.0, 11.5]
_HOURLY = pd.to_datetime([
    "2024-01-01 00:10", "2024-01-01 00:40", "2024-01-01 01:20",
    "2024-01-01 03:05", "2024-01-01 03:50",
])


def _irregular(spark, sort: bool = False):
    """Irregular timestamps, NaN values, unsorted arrival (or sorted: pandas
    asfreq(method=...) needs a monotonic index)."""
    ps = pd.Series(_TS_VALS, index=_TS, dtype="float64")
    if sort:
        ps = ps.sort_index()
    return Series(list(ps.values), index=list(ps.index), spark=spark), ps


def _hourly(spark):
    vals = [1.0, 3.0, 5.0, 7.0, 9.0]
    return Series(vals, index=_HOURLY, spark=spark), pd.Series(vals, index=_HOURLY)


def _grid_case(spark, name):
    s, ps = _irregular(spark)
    ss, pss = _irregular(spark, sort=True)
    h, ph = _hourly(spark)
    if name == "resample_mean>sort_values":
        return h.resample("1h").mean().sort_values(), ph.resample("1h").mean().sort_values()
    if name == "resample_sum>cumsum":
        return h.resample("1h").sum().cumsum(), ph.resample("1h").sum().cumsum()
    if name == "resample_count>binop":
        return h.resample("1h").count() * 2, ph.resample("1h").count() * 2
    if name == "resample_mean>dropna>diff":
        return (
            h.resample("1h").mean().dropna().diff(),
            ph.resample("1h").mean().dropna().diff(),
        )
    if name == "asfreq>fillna>cumsum":
        return (
            h.asfreq("30min").fillna(0.0).cumsum(),
            ph.asfreq("30min").fillna(0.0).cumsum(),
        )
    if name == "asfreq_ffill>shift":
        return (
            h.asfreq("30min", method="ffill").shift(1),
            ph.asfreq("30min", method="ffill").shift(1),
        )
    if name == "resample6h_mean>cumsum":
        return s.resample("6h").mean().cumsum(), ps.resample("6h").mean().cumsum()
    if name == "resample7h_sum>shift":
        return s.resample("7h").sum().shift(1), ps.resample("7h").sum().shift(1)
    if name == "resample_mean+max":
        return (
            s.resample("6h").mean() + s.resample("6h").max(),
            ps.resample("6h").mean() + ps.resample("6h").max(),
        )
    if name == "resample6h-12h":
        return (
            s.resample("6h").sum() - s.resample("12h").sum(),
            ps.resample("6h").sum() - ps.resample("12h").sum(),
        )
    if name == "resample>rolling3":
        return (
            s.resample("6h").mean().rolling(3).mean(),
            ps.resample("6h").mean().rolling(3).mean(),
        )
    if name == "asfreq4h_ffill>cumsum":
        return (
            ss.asfreq("4h", method="ffill").cumsum(),
            pss.asfreq("4h", method="ffill").cumsum(),
        )
    if name == "asfreq*2+resample_min":
        return (
            ss.asfreq("6h", method="ffill") * 2.0 + ss.resample("6h").min(),
            pss.asfreq("6h", method="ffill") * 2.0 + pss.resample("6h").min(),
        )
    if name == "resample>reset_index":
        return (
            s.resample("6h").mean().reset_index(),
            ps.resample("6h").mean().reset_index(),
        )
    if name == "resample>to_frame>assign":
        f = s.resample("6h").mean().to_frame("m")
        pf = ps.resample("6h").mean().to_frame("m")
        return f.assign(cs=f["m"].cumsum()), pf.assign(cs=pf["m"].cumsum())
    assert name == "resample>groupby_day"
    f = s.resample("6h").sum().to_frame("v").reset_index()
    pf = ps.resample("6h").sum().to_frame("v").reset_index()
    f = f.assign(d=f[f.columns[0]].dt.floor("d"))
    pf = pf.assign(d=pf[pf.columns[0]].dt.floor("d"))
    return (
        f.groupby("d").agg({"v": "sum"}).sort_index(),
        pf.groupby("d").agg({"v": "sum"}).sort_index(),
    )


_GRID_CASES = [
    "resample_mean>sort_values", "resample_sum>cumsum", "resample_count>binop",
    "resample_mean>dropna>diff", "asfreq>fillna>cumsum", "asfreq_ffill>shift",
    "resample6h_mean>cumsum", "resample7h_sum>shift", "resample_mean+max",
    "resample6h-12h", "resample>rolling3", "asfreq4h_ffill>cumsum",
    "asfreq*2+resample_min", "resample>reset_index", "resample>to_frame>assign",
    "resample>groupby_day",
]


def _same_cell(a, b) -> bool:
    if isinstance(a, tuple) or isinstance(b, tuple):
        return len(a) == len(b) and all(_same_cell(x, y) for x, y in zip(a, b))
    if pd.isna(a) or pd.isna(b):
        return bool(pd.isna(a)) and bool(pd.isna(b))
    if isinstance(b, (int, float, np.floating, np.integer)):
        return abs(float(a) - float(b)) < 1e-9 * max(1.0, abs(float(b)))
    return a == b


def _assert_same_labeled(got, want) -> None:
    """Whole-chain pandas parity: column labels, index and values, in the
    displayed order."""
    got = got if isinstance(got, pd.DataFrame) else got.to_frame("v")
    want = want if isinstance(want, pd.DataFrame) else want.to_frame("v")
    assert [str(c) for c in got.columns] == [str(c) for c in want.columns]
    assert len(got) == len(want)
    for a, b in zip(got.index, want.index):
        assert _same_cell(a, b), ("index", list(got.index), list(want.index))
    for cg, cw in zip(got.columns, want.columns):
        for a, b in zip(got[cg], want[cw]):
            assert _same_cell(a, b), (cg, list(got[cg]), list(want[cw]))


@pytest.mark.parametrize("name", _GRID_CASES)
def test_resample_asfreq_outputs_as_chain_links(spark, name):
    got, want = _grid_case(spark, name)
    _assert_same_labeled(got.to_pandas(), want)


# -- reshape outputs as chain links -------------------------------------------
# unstack / pivot / value_counts / xs / str.extract / str.partition results
# feeding sorts, assigns, melts, groupbys and value_counts, plus idxmax /
# idxmin on sorted and derived series, compared whole-chain against pandas.

_DOCS = [
    "alpha-01 beta", "gamma-22 delta", "epsilon-3 zeta", None,
    "eta-44 theta", "iota-5 kappa", "nomatch", "lambda-66 mu",
]
_PAT = r"(?P<word>[a-z]+)-(?P<num>\d+)"


def _reshape_case(spark, name):
    pmi = pd.Series(
        [1.0, 2.0, 3.0, 4.0],
        index=pd.MultiIndex.from_tuples([("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")]),
    )
    gmi = DataFrame(
        {"l0": ["a", "a", "b", "b"], "l1": ["x", "y", "x", "y"], "v": [1.0, 2.0, 3.0, 4.0]},
        spark=spark,
    ).set_index(["l0", "l1"])["v"]
    ppv = pd.DataFrame(
        {"r": ["r1", "r1", "r2", "r2"], "c": ["c1", "c2", "c1", "c2"], "v": [1.0, 2.0, 3.0, 4.0]}
    )
    pp = ppv.pivot(index="r", columns="c", values="v")
    pp.columns.name = None
    gp = DataFrame(ppv, spark=spark).pivot(index="r", columns="c", values="v")
    words = ["a", "b", "a", "c", "b", "a"]
    pv, gv = pd.Series(words), Series(words, spark=spark)
    docs, pdocs = Series(_DOCS, spark=spark), pd.Series(_DOCS, dtype="object")
    if name == "unstack>sort_index":
        return gmi.unstack().sort_index(), pmi.unstack().sort_index()
    if name == "unstack>assign_sum":
        gu, pu = gmi.unstack(), pmi.unstack()
        return gu.assign(t=gu["x"] + gu["y"]), pu.assign(t=pu["x"] + pu["y"])
    if name == "pivot>sort_index":
        return gp.sort_index(), pp.sort_index()
    if name == "pivot>reset>melt":
        return (
            gp.reset_index().melt(id_vars=["r"]).reset_index(drop=True),
            pp.reset_index().melt(id_vars=["r"]).astype({"value": "float"}).reset_index(drop=True),
        )
    if name == "value_counts>binop":
        return gv.value_counts() * 10, pv.value_counts() * 10
    if name == "value_counts>sort_index":
        return gv.value_counts().sort_index(), pv.value_counts().sort_index()
    if name == "xs>sort_values":
        return gmi.xs("a", level=0).sort_values(), pmi.xs("a", level=0).sort_values()
    if name == "extract>set_index>sort_index":
        return (
            docs.str.extract(_PAT, expand=True).set_index("word").sort_index(),
            pdocs.str.extract(_PAT, expand=True).set_index("word").sort_index(),
        )
    if name == "extract>groupby":
        f, pf = docs.str.extract(_PAT, expand=True), pdocs.str.extract(_PAT, expand=True)
        f = f.assign(n=f["num"].astype("float64"))
        f = f.assign(wl=f["word"].str.len())
        pf = pf.assign(n=pf["num"].astype("float64"))
        pf = pf.assign(wl=pf["word"].str.len().astype("float64"))
        got = f.groupby("wl").agg({"n": "sum"}).to_pandas().sort_index()
        want = pf.groupby("wl").agg({"n": "sum"}).sort_index()
        got.index = [float(i) for i in got.index]
        want.index = [float(i) for i in want.index]
        return got, want
    if name == "partition":
        pf = pdocs.str.partition("-")
        pf.columns = [str(c) for c in pf.columns]
        return docs.str.partition("-"), pf
    if name == "partition>stack":
        # compared as (index tuple -> value) maps: stack drops NaN rows in
        # both engines
        pf = pdocs.str.partition("-")
        pf.columns = [str(c) for c in pf.columns]
        got, want = docs.str.partition("-").stack().to_pandas(), pf.stack()

        def cells(s):
            return {(str(i), str(j)): v for (i, j), v in s.items()}

        return pd.Series([cells(got) == cells(want)]), pd.Series([True])
    if name == "extract>pivot":
        f = docs.str.extract(_PAT, expand=True).dropna()
        pf = pdocs.str.extract(_PAT, expand=True).dropna()
        f = f.assign(one=f["num"].astype("float64") * 0 + 1.0)
        pf = pf.assign(one=pf["num"].astype("float64") * 0 + 1.0)
        got = f.pivot(index="word", columns="num", values="one").to_pandas().sort_index()
        want = pf.pivot(index="word", columns="num", values="one").sort_index()
        got.columns = [str(c) for c in got.columns]
        want.columns = [str(c) for c in want.columns]
        return got[sorted(got.columns)], want[sorted(want.columns)]
    if name == "extract>value_counts":
        return (
            docs.str.extract(r"([a-z]+)-").fillna("none").value_counts().sort_index(),
            pdocs.str.extract(r"([a-z]+)-", expand=False)
            .fillna("none").value_counts().sort_index(),
        )
    if name == "extract>set_index>to_frame>reset_index":
        def chain(x):
            num = x.str.extract(_PAT, expand=True).set_index("word")["num"]
            return num.to_frame("num").reset_index()

        return chain(docs), chain(pdocs)
    ps2 = pd.Series([4.0, 8.0, 2.0], index=[30, 10, 20])
    gs2 = Series([4.0, 8.0, 2.0], index=[30, 10, 20], spark=spark)
    if name == "sort_values>idxmax":
        return pd.Series([gs2.sort_values().idxmax()]), pd.Series([ps2.sort_values().idxmax()])
    assert name == "neg>idxmin"
    return pd.Series([(gs2 * -1).idxmin()]), pd.Series([(ps2 * -1).idxmin()])


_RESHAPE_CASES = [
    "unstack>sort_index", "unstack>assign_sum", "pivot>sort_index",
    "pivot>reset>melt", "value_counts>binop", "value_counts>sort_index",
    "xs>sort_values", "extract>set_index>sort_index", "extract>groupby",
    "partition", "partition>stack", "extract>pivot", "extract>value_counts",
    "extract>set_index>to_frame>reset_index", "sort_values>idxmax", "neg>idxmin",
]


@pytest.mark.parametrize("name", _RESHAPE_CASES)
def test_reshape_outputs_as_chain_links(spark, name):
    got, want = _reshape_case(spark, name)
    if not isinstance(got, (pd.DataFrame, pd.Series)):
        got = got.to_pandas()
    _assert_same_labeled(got, want)


# -- chains over a non-monotonic explicit index -------------------------------
# The construction order is the pandas row order; each chain feeds it
# through sorts, positional picks, fills, filters, reset/sort_index and
# the positional, rank and grouped ops, and compares the whole result.

_UNSORTED_OPS = {
    "sort_u": lambda d: d.sort_values("u"),
    "sort_u_desc": lambda d: d.sort_values("u", ascending=False),
    "head5": lambda d: d.head(5),
    "tail4": lambda d: d.tail(4),
    "fillna0": lambda d: d.fillna(0.0),
    "dropna": lambda d: d.dropna(),
    "assign_w": lambda d: d.assign(w=d["v"] * 2 + 1),
    "filter_pos": lambda d: d[d["u"] > -20.0],
    "nlargest3": lambda d: d.nlargest(3, "u"),
    "reset_index": lambda d: d.reset_index(drop=True),
    "sort_index": lambda d: d.sort_index(),
    "cumsum_v": lambda d: d.assign(cs=d["v"].cumsum()),
    "iloc_rev_head": lambda d: d.iloc[::-1].head(4),
    "rank_u": lambda d: d.assign(r=d["u"].rank(method="first")),
    "g_cumsum": lambda d: d.assign(gc=d.groupby("k")["u"].cumsum()),
    "g_shift": lambda d: d.assign(gs=d.groupby("k")["u"].shift(1)),
    "ffill": lambda d: d.ffill(),
    "shift_v": lambda d: d.assign(sv=d["v"].shift(1)),
}
_UNSORTED_CHAINS = [
    "sort_u_desc>tail4>fillna0",
    "dropna>filter_pos>nlargest3",
    "iloc_rev_head>reset_index>ffill",
    "assign_w>head5>shift_v",
    "sort_u>rank_u>g_cumsum",
    "g_shift>sort_index>cumsum_v",
    "rank_u>g_shift>sort_u_desc>head5",
]


@pytest.mark.parametrize("chain", _UNSORTED_CHAINS)
def test_unsorted_index_chains(spark, chain):
    u = [12.5, -30.5, 41.5, 3.5, -7.5, 28.5, -19.5, 35.5, 0.5, -44.5, 17.5]
    v = [1.5, None, -2.5, 3.0, None, 4.5, -1.0, 2.0, None, 0.5, 3.0]
    k = list("xyzxzyxyzzx")
    index = [117, 104, 130, 101, 125, 109, 112, 121, 106, 128, 115]
    df = DataFrame({"u": u, "v": v, "k": k}, index=index, spark=spark)
    pdf = pd.DataFrame({"u": u, "v": v, "k": k}, index=index).astype({"v": "float64"})
    for op in chain.split(">"):
        df, pdf = _UNSORTED_OPS[op](df), _UNSORTED_OPS[op](pdf)
    _eq_frame(df.to_pandas(), pdf)


def _same_series(got: pd.Series, want: pd.Series, label) -> None:
    """Values (NaN-aware) and labels, position for position."""
    assert got.index.tolist() == want.index.tolist(), label
    for a, b in zip(got.tolist(), want.tolist()):
        assert (pd.isna(a) and pd.isna(b)) or a == b, (label, got.tolist(), want.tolist())


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_sorted_output_derived_chains(spark, seed):
    """Sorted outputs keep their row order through a rebinding derivation
    (*2, round, a comparison) and a head: sort_values (asc, desc,
    na_position='first'), nlargest/nsmallest, a negative-step slice and a
    reversed-then-sliced series, the frame's sort/nlargest with a
    replaced sort column, frame value_counts and concat of sorted blocks
    — over a shuffled index with ties and a NaN/None block, against
    pandas (stable sorts: ties keep their position)."""
    import random

    from pontem_spark.core.frame import concat

    rng = random.Random(seed)
    n = 40
    vals = [
        rng.choice([None, float("nan")]) if rng.random() < 0.12 else round(rng.uniform(-5, 5), 1)
        for _ in range(n)
    ]
    idx = list(range(n))
    rng.shuffle(idx)
    w = pd.Series(vals, index=idx, dtype="float64")
    s = Series(vals, index=idx, spark=spark)
    for label, sp, pw in [
        ("asc", s.sort_values(), w.sort_values(kind="stable")),
        ("desc", s.sort_values(ascending=False), w.sort_values(ascending=False, kind="stable")),
        ("na_first", s.sort_values(na_position="first"), w.sort_values(na_position="first", kind="stable")),
        ("nlargest", s.nlargest(7), w.nlargest(7)),
        ("nsmallest", s.nsmallest(7), w.nsmallest(7)),
        ("neg step", s[::-2], w.iloc[::-2]),
        ("rev then take", s[::-1][:5], w.iloc[::-1].iloc[:5]),
    ]:
        _same_series(sp.to_pandas(), pw, (label, "direct"))
        _same_series((sp * 2).to_pandas(), pw * 2, (label, "*2"))
        _same_series(sp.round(0).to_pandas(), pw.round(0), (label, "round"))
        _same_series((sp > 0).to_pandas(), pw > 0, (label, "cmp"))
        _same_series((sp * 2).head(4).to_pandas(), (pw * 2).head(4), (label, "head"))

    cols = {"a": [rng.randint(0, 5) for _ in range(n)], "b": [round(rng.uniform(-3, 3), 1) for _ in range(n)]}
    wf = pd.DataFrame(cols, index=idx)
    df = DataFrame(cols, index=idx, spark=spark)
    fs, ws = df.sort_values("b"), wf.sort_values("b", kind="stable")
    _same_series((fs["b"] * 3).to_pandas(), ws["b"] * 3, "frame sort derived")
    _same_series((fs["b"] > 0).to_pandas(), ws["b"] > 0, "frame sort nonmono")
    fs["b"] = fs["b"] > 0
    _same_series(fs.to_pandas()["a"], ws["a"], "frame setitem after sort")
    _same_series(
        (df.nlargest(6, "b")["b"] < 0).to_pandas(), wf.nlargest(6, "b")["b"] < 0, "frame nlargest"
    )
    # value_counts ties order by label (a documented deviation: pandas'
    # first-appearance order is positional)
    wvc = (
        wf.value_counts().reset_index(name="n")
        .sort_values(["n", "a", "b"], ascending=[False, True, True])
        .set_index(["a", "b"])["n"]
    )
    _same_series((df.value_counts() * -1).to_pandas(), wvc * -1, "frame vc")
    _same_series(
        (concat([s.sort_values(), s.sort_values(ascending=False)]) * 2).to_pandas(),
        pd.concat([w.sort_values(kind="stable"), w.sort_values(ascending=False, kind="stable")]) * 2,
        "concat sorted",
    )
