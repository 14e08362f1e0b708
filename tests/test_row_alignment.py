"""Cross-anchor row alignment shared by Series and DataFrame.

Every cross-anchor binop caller — Series ⊕ Series, frame ⊕ frame and
frame ⊕ Series down the index axis — pairs rows through one aligner
(``core/internal.py`` ``align_rows``), so the callers agree with pandas
on the same inputs: the MultiIndex-vs-flat raise, strict dunder
comparisons, and positional (identical sequences) vs per-label
cartesian (differing sequences) pairing under duplicate labels.
pandas 2.2.2 semantics, measured.
"""

from __future__ import annotations

import operator

import pandas as pd
import pytest

from pontem_spark.core import DataFrame as PFrame, Series


def _mi_series(spark):
    d = {"g": [1, 1, 2], "k": ["a", "b", "a"], "x": [1.0, 2.0, 3.0]}
    return (
        PFrame(d, spark=spark).set_index(["g", "k"])["x"],
        pd.DataFrame(d).set_index(["g", "k"])["x"],
    )


@pytest.mark.parametrize(
    "op",
    [
        lambda a, b: a + b,
        lambda a, b: a.add(b, fill_value=0),
        lambda a, b: a.eq(b),
    ],
    ids=["add", "add_fill_value", "eq"],
)
def test_series_multiindex_vs_flat_raises(spark, op):
    emi, pmi = _mi_series(spark)
    eflat = Series([1.0, 2.0, 3.0], spark=spark)
    pflat = pd.Series([1.0, 2.0, 3.0])
    with pytest.raises(ValueError, match="cannot join with no overlapping index names"):
        op(pmi, pflat)
    with pytest.raises(ValueError, match="cannot join with no overlapping index names"):
        op(emi, eflat)
    with pytest.raises(ValueError, match="cannot join with no overlapping index names"):
        op(eflat, emi)


CMP_OPS = [operator.eq, operator.ne, operator.lt, operator.le, operator.gt, operator.ge]
VALS = [1.0, 2.0, float("nan"), 4.0]


@pytest.mark.parametrize(
    "lidx, ridx",
    [([0, 1, 2, 3], [1, 2, 3, 4]), ([0, 1, 2, 3], [3, 1, 2, 0])],
    ids=["different_labels", "same_labels_reordered"],
)
@pytest.mark.parametrize("op", CMP_OPS, ids=lambda o: o.__name__)
def test_series_dunder_comparison_requires_identical_labels(spark, lidx, ridx, op):
    with pytest.raises(ValueError, match="Can only compare identically-labeled Series objects"):
        op(pd.Series(VALS, index=lidx), pd.Series(VALS[::-1], index=ridx))
    r = op(Series(VALS, index=lidx, spark=spark), Series(VALS[::-1], index=ridx, spark=spark))
    # the row-label check is a lazy in-plan raise: Spark's exception
    # type, pandas' message
    with pytest.raises(Exception, match="Can only compare identically-labeled Series objects"):
        r.to_pandas()


@pytest.mark.parametrize("op", CMP_OPS, ids=lambda o: o.__name__)
def test_series_dunder_comparison_identical_labels(spark, op):
    idx = [3, 1, 2, 0]
    got = op(Series(VALS, index=idx, spark=spark), Series(VALS[::-1], index=idx, spark=spark))
    want = op(pd.Series(VALS, index=idx), pd.Series(VALS[::-1], index=idx))
    pd.testing.assert_series_equal(got.to_pandas(), want, check_dtype=False)


@pytest.mark.parametrize("name", ["eq", "ne", "lt", "le", "gt", "ge"])
def test_series_named_comparison_still_aligns(spark, name):
    ea = Series(VALS, index=[0, 1, 2, 3], spark=spark)
    eb = Series(VALS[::-1], index=[3, 1, 2, 4], spark=spark)
    pa = pd.Series(VALS, index=[0, 1, 2, 3])
    pb = pd.Series(VALS[::-1], index=[3, 1, 2, 4])
    pd.testing.assert_series_equal(
        getattr(ea, name)(eb).to_pandas(), getattr(pa, name)(pb), check_dtype=False
    )


# both operands sort_values-ordered, so every caller takes the aligner's
# cart/pos path: identical visible label sequences pair positionally,
# differing ones take the per-label cartesian over the sorted union
LEFT = ([3.0, 1.0, 2.0, 4.0], [5, 5, 7, 7])
RIGHT_SAME_SEQ = ([10.0, 20.0, 30.0, 40.0], [5, 7, 5, 7])
RIGHT_DIFF_SEQ = ([2.0, 4.0, 1.0, 3.0], [7, 5, 5, 7])

CALLERS = {
    "series": lambda S, F, l, r: S(*l).sort_values() + S(*r).sort_values(),
    "frame": lambda S, F, l, r: (
        F({"x": l[0]}, index=l[1]).sort_values("x")
        + F({"x": r[0]}, index=r[1]).sort_values("x")
    ),
    "frame_axis0": lambda S, F, l, r: (
        F({"x": l[0]}, index=l[1]).sort_values("x").sub(S(*r).sort_values(), axis=0)
    ),
}


def _run(caller, spark, l, r):
    got = CALLERS[caller](
        lambda v, i: Series(v, index=i, spark=spark),
        lambda d, index: PFrame(d, index=index, spark=spark),
        l, r,
    ).to_pandas()
    want = CALLERS[caller](
        lambda v, i: pd.Series(v, index=i), pd.DataFrame, l, r
    )
    return got, want


@pytest.mark.parametrize("caller", list(CALLERS))
def test_dup_label_identical_sequences_pair_positionally(spark, caller):
    got, want = _run(caller, spark, LEFT, RIGHT_SAME_SEQ)
    if isinstance(want, pd.Series):
        pd.testing.assert_series_equal(got, want, check_dtype=False)
    else:
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize("caller", ["series", "frame"])
def test_dup_label_differing_sequences_cartesian(spark, caller):
    # pandas' axis=0 broadcast raises on duplicate labels here, so only
    # the two binop callers take the cartesian
    got, want = _run(caller, spark, LEFT, RIGHT_DIFF_SEQ)
    if isinstance(want, pd.DataFrame):
        got, want = got["x"], want["x"]
    assert list(got.index) == list(want.index)  # the sorted label union
    # per-label value multisets: the engine's join leaves the order
    # inside one label unspecified (pandas: left-major)
    assert sorted(zip(got.index, got.values)) == sorted(zip(want.index, want.values))


def test_both_ordered_axis0_differing_sequences(spark):
    got, want = _run("frame_axis0", spark, ([3.0, 1.0, 2.0], [0, 1, 2]), ([5.0, 9.0, 7.0], [2, 0, 3]))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize(
    "op",
    [
        lambda s, f: s[s > 1] + s,
        lambda s, f: s.dropna() + s,
        lambda s, f: (f[f["x"] > 1] + f)["x"],
        lambda s, f: (f.dropna() + f)["x"],
    ],
    ids=["series_mask", "series_dropna", "frame_mask", "frame_dropna"],
)
def test_filtered_result_meets_source_by_label(spark, op):
    """A filter is not 1 row in, 1 row out, so a filtered result pairs
    with its source by label: a repeated label takes pandas' per-label
    cartesian, not a match on the source's helper columns."""
    vals, idx = [1.0, 2.0, None, 4.0], [5, 5, 3, 1]
    got = op(Series(vals, index=idx, spark=spark), PFrame({"x": vals}, index=idx, spark=spark))
    want = op(pd.Series(vals, index=idx), pd.DataFrame({"x": vals}, index=idx))
    got = got.to_pandas()
    assert list(got.index) == list(want.index)
    assert sorted(map(str, zip(got.index, got.values))) == sorted(map(str, zip(want.index, want.values)))
