"""Round-12 regression pins for the r11 ADVICE findings.

1. (medium) Aligned binop with BOTH sides custom-ordered: pandas keeps
   the order only when the two visible SEQUENCES are identical
   (Index.equals is element-wise), so set-equal-but-differently-ordered
   operands (s.sort_values() + s.sort_values(ascending=False)) must
   re-sort to the union index. Pinned: sequence mismatch → sorted
   union; identical sequences → order preserved.
2. (low) Construction order is recorded for a MONOTONIC index with
   duplicate labels too — Spark's sort is unstable within equal labels,
   so positional ops (shift/cumsum) disagreed with pandas
   nondeterministically. Both constructors (one upload,
   core/internal.py::upload).
3. (low) _java_named_groups no longer rewrites LITERAL '(?P<' text
   inside character classes or behind a backslash.
4. (low) A user column literally named '__ctor__' is no longer silently
   overwritten by the construction-order helper — a fresh name is
   minted.
5. (low) groupby key naming BOTH a column and an index level raises
   pandas' ambiguity ValueError instead of resolving to the column.
"""
from __future__ import annotations

import pandas as pd
import pytest

from pontem_spark.core import DataFrame, Series
from pontem_spark.core.accessors import _java_named_groups


# -- 1. both-sides-custom-ordered aligned binop --------------------------------


def test_aligned_binop_opposite_sorts_resort_to_union(spark):
    ps = pd.Series([3.0, 1.0, 2.0], index=[10, 30, 20])
    pl, pr = ps.sort_values(), ps.sort_values(ascending=False)
    want = pl + pr.copy()  # pandas: sequences differ -> sorted union index
    l = Series([3.0, 1.0, 2.0], index=[10, 30, 20], spark=spark).sort_values()
    r = Series([3.0, 1.0, 2.0], index=[10, 30, 20], spark=spark).sort_values(
        ascending=False
    )
    got = (l + r).to_pandas()
    assert got.index.tolist() == want.index.tolist()
    assert got.tolist() == want.tolist()


def test_aligned_binop_same_custom_sequences_keep_order(spark):
    ps = pd.Series([3.0, 1.0, 2.0], index=[10, 30, 20])
    want = ps.sort_values() + ps.copy().sort_values()
    l = Series([3.0, 1.0, 2.0], index=[10, 30, 20], spark=spark).sort_values()
    r = Series([3.0, 1.0, 2.0], index=[10, 30, 20], spark=spark).sort_values()
    got = (l + r).to_pandas()
    assert got.index.tolist() == want.index.tolist()  # value order, not sorted
    assert got.tolist() == want.tolist()


def test_aligned_binop_custom_orders_with_unmatched_row(spark):
    # sequence stat must ALSO flag unmatched labels (it replaces __mism__)
    pl = pd.Series([3.0, 1.0, 2.0], index=[10, 30, 20]).sort_values()
    pr = pd.Series([5.0, 4.0], index=[20, 40]).sort_values()
    want = pl + pr
    l = Series([3.0, 1.0, 2.0], index=[10, 30, 20], spark=spark).sort_values()
    r = Series([5.0, 4.0], index=[20, 40], spark=spark).sort_values()
    got = (l + r).to_pandas()
    assert got.index.tolist() == want.index.tolist()
    assert got.fillna(-1).tolist() == want.fillna(-1).tolist()


def test_aligned_binop_chained_after_sequence_stat(spark):
    # the stat's helper columns must not leak into a following alignment
    ps = pd.Series([3.0, 1.0, 2.0], index=[10, 30, 20])
    want = (ps.sort_values() + ps.sort_values(ascending=False)) + ps.sort_values()
    l = Series([3.0, 1.0, 2.0], index=[10, 30, 20], spark=spark).sort_values()
    r = Series([3.0, 1.0, 2.0], index=[10, 30, 20], spark=spark).sort_values(
        ascending=False
    )
    t = Series([3.0, 1.0, 2.0], index=[10, 30, 20], spark=spark).sort_values()
    got = ((l + r) + t).to_pandas()
    assert got.index.tolist() == want.index.tolist()
    assert got.tolist() == want.tolist()


# -- 2. monotonic-with-duplicates construction order ---------------------------


def test_series_monotonic_duplicate_index_positional(spark):
    pds = pd.Series([10, 20, 30, 40], index=[1, 1, 2, 2])
    want = pds.cumsum()
    got = Series([10, 20, 30, 40], index=[1, 1, 2, 2], spark=spark).cumsum().to_pandas()
    assert got.tolist() == want.tolist()
    assert got.index.tolist() == want.index.tolist()
    want_sh = pds.shift(1)
    got_sh = (
        Series([10, 20, 30, 40], index=[1, 1, 2, 2], spark=spark).shift(1).to_pandas()
    )
    assert got_sh.fillna(-1).tolist() == want_sh.fillna(-1).tolist()


def test_frame_monotonic_duplicate_index_positional(spark):
    pdf = pd.DataFrame({"a": [4, 3, 2, 1]}, index=[1, 1, 2, 2])
    want = pdf["a"].cumsum()
    got = DataFrame(pdf, spark=spark)["a"].cumsum().to_pandas()
    assert got.tolist() == want.tolist()
    assert got.index.tolist() == want.index.tolist()


def test_series_duplicate_index_display_order(spark):
    # construction order [20, 10] under equal labels must survive to_pandas
    got = Series([20, 10], index=[5, 5], spark=spark).to_pandas()
    assert got.tolist() == [20, 10]


# -- 3. named-group rewrite scanner --------------------------------------------


def test_named_groups_plain_rewrite():
    assert _java_named_groups(r"(?P<x>\d+)-(?P=x)") == r"(?<x>\d+)-\k<x>"


def test_named_groups_literal_in_class_untouched():
    # '(?P<' inside a character class is literal text, not group syntax
    assert _java_named_groups(r"[(?P<]") == r"[(?P<]"


def test_named_groups_escaped_untouched():
    assert _java_named_groups(r"\(\?P<x>") == r"\(\?P<x>"


def test_named_groups_class_then_real_group():
    assert _java_named_groups(r"[(?P<](?P<n>\w)") == r"[(?P<](?<n>\w)"


def test_named_groups_end_to_end_extract(spark):
    # the class-literal pattern must reach the JVM unmangled
    s = Series(["a(x", "b?y"], spark=spark)
    got = pd.DataFrame(Series(["a(x", "b?y"], spark=spark).str.extract(r"([(?P<])").to_pandas())
    want = pd.Series(["a(x", "b?y"]).str.extract(r"([(?P<])")
    gv = [None if pd.isna(v) else v for v in got.iloc[:, 0]]
    wv = [None if pd.isna(v) else v for v in want.iloc[:, 0]]
    assert gv == wv


# -- 4. reserved helper name collision ------------------------------------------


def test_user_column_named_ctor_preserved(spark):
    pdf = pd.DataFrame({"__ctor__": [7, 8, 9], "b": [1, 2, 3]}, index=[3, 1, 2])
    got = DataFrame(pdf, spark=spark).to_pandas()
    assert got["__ctor__"].tolist() == [7, 8, 9]
    assert got.index.tolist() == [3, 1, 2]
    assert list(got.columns) == ["__ctor__", "b"]


# -- 5. groupby column/index-level ambiguity ------------------------------------


def test_groupby_ambiguous_key_raises(spark):
    pdf = pd.DataFrame({"a": [1, 2], "v": [3.0, 4.0]})
    df = DataFrame(pdf, spark=spark).set_index("a")
    # rebuild 'a' as a column while the index level is still named 'a'
    df["a"] = df["v"]
    with pytest.raises(ValueError, match="both an index level and a column label"):
        df.groupby("a")
    with pytest.raises(ValueError, match="ambiguous"):
        pdf2 = pdf.set_index("a")
        pdf2["a"] = pdf2["v"]
        pdf2.groupby("a")  # pandas raises the same class — parity check
