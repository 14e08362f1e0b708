"""The pandas cell-rule table (core/cells.py) against pandas 2.2.2: every
dtype pair of {bool, int, float, str} under + - * / // % ** == < & | —
176 cases — through Series ⊕ Series, frame ⊕ frame and Series/frame ⊕
scalar on one anchor, plus cross-anchor cases, one per rule class.

Each case must either raise on both sides (eagerly or at collect) or
return equal values. The four dtypes ride as columns of ONE frame and
each op is ONE collect; a lazy in-plan raise (the int64 pow rule)
re-collects that op case by case to attribute it.

Remaining deviations, ledgered in ``DEVIATIONS`` with a reason each."""

from __future__ import annotations

import math
import operator

import pandas as pd
import pytest

from pontem_spark.core import DataFrame, Series

DATA = {
    "b": [True, False, True, False],
    "i": [3, 0, -2, 5],
    "f": [1.5, 0.0, -2.0, float("nan")],
    "s": ["a", "b", "", "cd"],
}
SCALARS = {"b": True, "i": -2, "f": 0.0, "s": "x"}
OPS = {
    "+": operator.add, "-": operator.sub, "*": operator.mul,
    "/": operator.truediv, "//": operator.floordiv, "%": operator.mod,
    "**": operator.pow, "==": operator.eq, "<": operator.lt,
    "&": operator.and_, "|": operator.or_,
}
DTYPES = list(DATA)

# (left, op, right) → reason, for the Series ⊕ Series and frame ⊕ frame
# grids; SCALAR_DEVIATIONS add the scalar path ((scalar, op, column,
# "rseries") is ``scalar op column``)
DEVIATIONS = {
    ("b", "&", "s"): "pandas casts the str operand to its truthiness; "
                     "both engine paths raise TypeError",
    ("b", "|", "s"): "pandas casts the str operand to its truthiness; "
                     "both engine paths raise TypeError",
}
SCALAR_DEVIATIONS = {
    ("b", "**", "s", "rseries"): "pandas' rpow short-cuts a base of 1 on "
        "an object column to NaN without evaluating; the engine raises "
        "TypeError like every other str ** operand",
}


def _same(got, want) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        gm, wm = g is None or (isinstance(g, float) and math.isnan(g)), pd.isna(w)
        if gm or wm:
            if gm != wm:
                return False
        elif isinstance(w, str) or isinstance(g, str):
            if g != w:
                return False
        elif not math.isclose(float(g), float(w), rel_tol=1e-12, abs_tol=0.0):
            return False
    return True


def _pandas(fn):
    try:
        out = fn()
    except Exception:  # noqa: BLE001 — any pandas raise
        return "raise"
    # ``"x" % s`` is python's str formatting, which never reaches pandas
    return list(out) if isinstance(out, pd.Series) else "python"


def _engine(base: DataFrame, cases: dict) -> dict:
    """cases: key → thunk building a same-anchor Series. One collect for
    every case that builds; a failing collect is re-run case by case."""
    built, out = {}, {}
    for key, thunk in cases.items():
        try:
            built[key] = thunk()
        except Exception:  # noqa: BLE001 — eager raise
            out[key] = "raise"
    names = {key: f"c{n}" for n, key in enumerate(built)}

    def collect(keys):
        pdf = base.assign(**{names[k]: built[k] for k in keys}).to_pandas()
        return {k: list(pdf[names[k]]) for k in keys}

    try:
        out.update(collect(list(built)))
    except Exception:  # noqa: BLE001 — a lazy raise: attribute it
        for k in built:
            try:
                out.update(collect([k]))
            except Exception:  # noqa: BLE001
                out[k] = "raise"
    return out


def _check(got: dict, want: dict, deviations=DEVIATIONS):
    bad = []
    for key, w in want.items():
        g = got[key]
        ok = (g == "raise") == (w == "raise") and (g == "raise" or _same(g, w))
        if key in deviations:
            assert not ok, f"{key} now matches pandas: drop it from DEVIATIONS"
        elif not ok:
            bad.append(f"{key}: engine {g} vs pandas {w}")
    assert not bad, "\n".join(bad)


@pytest.fixture(scope="module")
def frames(spark):
    pdf = pd.DataFrame(DATA)
    return DataFrame(DATA), pdf


@pytest.mark.parametrize("sym", list(OPS))
def test_series_series_grid(frames, sym):
    df, pdf = frames
    op = OPS[sym]
    keys = [(l, sym, r) for l in DTYPES for r in DTYPES]
    got = _engine(df, {k: (lambda l=k[0], r=k[2]: op(df[l], df[r])) for k in keys})
    want = {k: _pandas(lambda l=k[0], r=k[2]: op(pdf[l], pdf[r])) for k in keys}
    _check(got, want)


@pytest.mark.parametrize("sym", list(OPS))
def test_frame_frame_grid(frames, sym):
    df, pdf = frames
    op = OPS[sym]

    def one(frame, l, r):
        lhs = frame[[l]].rename(columns={l: "x"})
        rhs = frame[[r]].rename(columns={r: "x"})
        return op(lhs, rhs)["x"]

    keys = [(l, sym, r) for l in DTYPES for r in DTYPES]
    got = _engine(df, {k: (lambda l=k[0], r=k[2]: one(df, l, r)) for k in keys})
    want = {k: _pandas(lambda l=k[0], r=k[2]: one(pdf, l, r)) for k in keys}
    _check(got, want)


@pytest.mark.parametrize("sym", list(OPS))
def test_scalar_grid(frames, sym):
    """Series ⊕ scalar and frame ⊕ scalar, both operand orders."""
    df, pdf = frames
    op = OPS[sym]
    cases, want = {}, {}
    for l in DTYPES:
        for r in DTYPES:
            v = SCALARS[r]
            for path in ("series", "frame", "rseries"):
                key = (l, sym, r) if path != "rseries" else (r, sym, l)
                if path == "series":
                    eng = lambda l=l, v=v: op(df[l], v)  # noqa: E731
                    pan = lambda l=l, v=v: op(pdf[l], v)  # noqa: E731
                elif path == "frame":
                    eng = lambda l=l, v=v: op(df[[l]], v)[l]  # noqa: E731
                    pan = lambda l=l, v=v: op(pdf[[l]], v)[l]  # noqa: E731
                else:
                    eng = lambda l=l, v=v: op(v, df[l])  # noqa: E731
                    pan = lambda l=l, v=v: op(v, pdf[l])  # noqa: E731
                cases[key + (path,)] = eng
                want[key + (path,)] = _pandas(pan)
    want = {k: w for k, w in want.items() if w != "python"}
    _check(_engine(df, {k: cases[k] for k in want}), want, SCALAR_DEVIATIONS)


# -- across anchors: the row aligner feeds the same table ----------------

IDX = [10, 20, 30, 40]
CROSS = [
    ("b", "+", "i"),   # numpy bool → int upcast
    ("b", "+", "b"),   # bool + is OR
    ("b", "*", "b"),   # bool * is AND
    ("b", "%", "b"),   # bool % bool is 0
    ("i", "==", "s"),  # cross-class eq is False
    ("b", "&", "i"),   # bool ⊕ int is bitwise, then truthiness
    ("b", "|", "f"),   # a float right of a bool is its truthiness
    ("f", "&", "b"),   # a float left raises
]


def _aligned_pair(l, r, frame):
    """Two anchors with identical labels (so pandas' dtypes survive the
    alignment) — separate constructors, so the engine cannot prove it."""
    if frame:
        return (
            DataFrame({"x": DATA[l]}, index=IDX),
            DataFrame({"x": DATA[r]}, index=IDX),
        )
    return Series(DATA[l], index=IDX), Series(DATA[r], index=IDX)


@pytest.mark.parametrize("frame", [False, True], ids=["series", "frame"])
@pytest.mark.parametrize("case", CROSS, ids=["".join(c) for c in CROSS])
def test_cross_anchor(spark, case, frame):
    l, sym, r = case
    op = OPS[sym]
    a, b = _aligned_pair(l, r, frame)
    pa, pb = pd.Series(DATA[l], index=IDX), pd.Series(DATA[r], index=IDX)
    want = _pandas(lambda: op(pa, pb))
    try:
        res = op(a, b)
        got = list((res["x"] if frame else res).to_pandas())
    except Exception:  # noqa: BLE001
        got = "raise"
    assert (got == "raise") == (want == "raise"), (got, want)
    if want != "raise":
        assert _same(got, want), (got, want)


def test_cross_anchor_int_mod_bool_ledger(spark):
    """Ledgered: pandas keeps ``int % bool`` int64 — ``x % False`` is 0
    (numpy C semantics) — only while no alignment hole flips the column
    to float64. Across anchors the engine cannot prove hole-freedom and
    masks the zero divisor to NaN; on one anchor it returns pandas' 0."""
    a, b = _aligned_pair("i", "b", frame=False)
    got = list((a % b).to_pandas())
    assert got[0] == 0 and math.isnan(got[1]) and math.isnan(got[3])
    df = DataFrame(DATA)
    assert list((df["i"] % df["b"]).to_pandas()) == [0, 0, 0, 0]


def test_cross_anchor_int_pow_ledger(spark):
    """Ledgered like the frame's cross-anchor int quirks: the negative-
    exponent raise is an int64 rule, applied only where hole-freedom is
    provable. Across anchors ``int ** negative int`` computes the float
    power (pandas, with identical labels, raises); on one anchor, and
    against a scalar, it raises like pandas."""
    a, b = _aligned_pair("i", "i", frame=False)
    got = list((a ** b).to_pandas())
    assert got[2] == pytest.approx(0.25)
    df = DataFrame(DATA)
    with pytest.raises(Exception, match="negative integer powers"):
        (df["i"] ** df["i"]).to_pandas()
    with pytest.raises(Exception, match="negative integer powers"):
        (df["i"] ** -1).to_pandas()


def test_unary_rules_shared(frames):
    """- and ~ per dtype, Series and frame alike (pandas: -bool is NOT,
    ~int is bitwise, -str and ~float raise)."""
    df, pdf = frames
    for name, fn in (("neg", operator.neg), ("inv", operator.invert)):
        for c in DTYPES:
            want = _pandas(lambda: fn(pdf[c]))
            for got_fn in (lambda: fn(df[c]), lambda: fn(df[[c]])[c]):
                try:
                    got = list(got_fn().to_pandas())
                except Exception:  # noqa: BLE001
                    got = "raise"
                assert (got == "raise") == (want == "raise"), (name, c, got, want)
                if want != "raise":
                    assert _same(got, want), (name, c, got, want)


# -- timestamp against str: pandas parses the str ------------------------

TS = pd.to_datetime(["2023-12-31", "2024-01-01", "2024-01-02", None])
TS_STR = ["2024-01-01", "2024-01-01", "2023-01-01", "2024-01-01"]
TS_CASES = {
    "ts == str": lambda t, s: t == "2024-01-01",
    "ts != str": lambda t, s: t != "2024-01-01",
    "ts < str": lambda t, s: t < "2024-01-01",
    "str < ts": lambda t, s: "2024-01-01" < t,
    "ts == str col": lambda t, s: t == s,
    "ts < str col": lambda t, s: t < s,
    "str col < ts": lambda t, s: s < t,
    # an object column against a datetime scalar does not parse
    "str col == Timestamp": lambda t, s: s == pd.Timestamp("2024-01-01"),
    "str col < Timestamp": lambda t, s: s < pd.Timestamp("2024-01-01"),
}


@pytest.mark.parametrize("frame", [False, True], ids=["series", "frame"])
@pytest.mark.parametrize("case", list(TS_CASES))
def test_timestamp_vs_str(spark, case, frame):
    """A str operand against a timestamp column, scalar or column, is
    compared as the timestamp it spells (Spark's cast, pandas' parse);
    a str column against a Timestamp scalar is the cross-class rule."""
    fn = TS_CASES[case]
    pdf = pd.DataFrame({"t": TS, "s": TS_STR})
    df = DataFrame({"t": TS, "s": TS_STR}, spark=spark)
    want = _pandas(lambda: fn(pdf["t"], pdf["s"]))

    def engine():
        if not frame:
            return fn(df["t"], df["s"])
        return fn(df[["t"]].rename(columns={"t": "x"}),
                  df[["s"]].rename(columns={"s": "x"}))["x"]

    try:
        got = list(engine().to_pandas())
    except Exception:  # noqa: BLE001
        got = "raise"
    assert (got == "raise") == (want == "raise"), (got, want)
    if want != "raise":
        assert _same(got, want), (got, want)


def test_timestamp_vs_unparseable_str_ledger(spark):
    """Ledgered: a str that does not spell a timestamp fails Spark's cast
    (CAST_INVALID_INPUT at collect), where pandas' ``==`` returns False
    for every row (its ``<`` raises TypeError, as the engine's cast does)."""
    pdts = pd.Series(TS)
    assert list(pdts == "abc") == [False] * 4
    s = Series(list(TS), spark=spark)
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        (s == "abc").to_pandas()
