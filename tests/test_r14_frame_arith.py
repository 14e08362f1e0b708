"""Round-14 frame-arithmetic seams — pandas 2.2 semantics MEASURED by
the r14 probe and pinned here after the fixes.

What r14 fixed (ADVICE r13 + the judge's three named seams):
  * cross-anchor dtype resolution: dtypes now come from the pre-join
    schemas by plain column name, so NaN-missing masks, fill_value on
    computed NaN cells, and boolean-frame OR/AND all work across anchors
    (previously _dtype_of called select() on the wrong frame and always
    fell back to dtype=None);
  * DUNDER comparisons raise pandas' identically-labeled ValueError —
    column labels eagerly, row labels via a lazy in-plan stat (the
    engine's raise_error convention, so the surfaced exception type is
    Spark's, with the pandas message);
  * NAMED comparisons align BOTH axes like arithmetic (the r13 pins had
    this backwards);
  * Series operand + fill_value raises pandas' NotImplementedError;
  * the named-op table grew floordiv/mod/pow with fill_value and the
    axis=0/'index' Series broadcast;
  * frame floordiv/mod/pow/div now route through the Series'
    pandas-corrected column helpers (divisor-sign mod, true-floor
    floordiv with the NaN guard, 1**NaN pow, /0 without the ANSI throw);
  * str ⊕ str frames concatenate on +; bool ⊕ bool frames follow numpy
    (+ OR, * AND, - raises, % int-upcasts, / // ** raise);
  * identical duplicate-label sequences pair POSITIONALLY cross-anchor
    (the cart/pos union of the row aligner shared with Series);
  * Series(dict) ctor: keys become the index (previously the keys were
    taken as the VALUES).

Reference shape: /root/reference/pontem/tests/test_series.py:75-114
(the §2.C arithmetic matrix) generalized to frames.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pontem_spark.core import DataFrame as PFrame, Series


def _eq(eres, pres):
    g = eres.to_pandas()
    pd.testing.assert_frame_equal(
        g, pres, check_dtype=False, check_exact=False, rtol=1e-9
    )


NAN = float("nan")
NANDATA = {"x": [1.0, NAN, 3.0], "y": [4.0, 5.0, NAN]}
IDX = [3, 1, 2]


def P(d, i=None):
    return pd.DataFrame(d, index=i) if i is not None else pd.DataFrame(d)


def E(d, i=None, *, spark):
    return PFrame(d, index=i, spark=spark) if i is not None else PFrame(d, spark=spark)


# ---- cross-anchor dtype resolution (ADVICE r13 high) --------------------


def test_cross_anchor_nan_eq_ne(spark):
    _eq(E(NANDATA, IDX, spark=spark).eq(E(NANDATA, IDX, spark=spark)),
        P(NANDATA, IDX).eq(P(NANDATA, IDX)))
    _eq(E(NANDATA, IDX, spark=spark).ne(E(NANDATA, IDX, spark=spark)),
        P(NANDATA, IDX).ne(P(NANDATA, IDX)))


def test_cross_anchor_fill_value_fills_nan_cells(spark):
    d2 = {"x": [1.0, 1.0, NAN], "y": [1.0, 1.0, 1.0]}
    _eq(E(NANDATA, IDX, spark=spark).add(E(d2, IDX, spark=spark), fill_value=0),
        P(NANDATA, IDX).add(P(d2, IDX), fill_value=0))


def test_cross_anchor_bool_frames(spark):
    B1, B2 = {"b": [True, False, True]}, {"b": [True, True, False]}
    _eq(E(B1, IDX, spark=spark) + E(B2, IDX, spark=spark), P(B1, IDX) + P(B2, IDX))
    _eq(E(B1, IDX, spark=spark) * E(B2, IDX, spark=spark), P(B1, IDX) * P(B2, IDX))
    with pytest.raises(TypeError, match="boolean subtract"):
        E(B1, IDX, spark=spark) - E(B2, IDX, spark=spark)


# ---- dunder vs named comparisons (ADVICE r13 medium) --------------------


def test_dunder_comparison_index_mismatch_raises_lazily(spark):
    r = E(NANDATA, IDX, spark=spark) == E(NANDATA, [7, 8, 9], spark=spark)
    with pytest.raises(Exception, match="identically-labeled"):
        r.to_pandas()


def test_dunder_comparison_index_order_mismatch_raises(spark):
    r = E(NANDATA, IDX, spark=spark) == E(NANDATA, [1, 2, 3], spark=spark)
    with pytest.raises(Exception, match="identically-labeled"):
        r.to_pandas()


def test_dunder_comparison_column_order_mismatch_raises(spark):
    ef = E(NANDATA, IDX, spark=spark)
    ef2 = E({"y": NANDATA["y"], "x": NANDATA["x"]}, IDX, spark=spark)
    with pytest.raises(ValueError, match="identically-labeled"):
        ef == ef2


def test_dunder_comparison_identical_labels_works(spark):
    _eq(E(NANDATA, IDX, spark=spark) == E(NANDATA, IDX, spark=spark),
        P(NANDATA, IDX) == P(NANDATA, IDX))
    _eq(E(NANDATA, IDX, spark=spark) != E(NANDATA, IDX, spark=spark),
        P(NANDATA, IDX) != P(NANDATA, IDX))


def test_named_comparison_aligns_rows(spark):
    # same columns, different index labels: named form aligns (union),
    # missing compares False / ne True
    _eq(E(NANDATA, IDX, spark=spark).eq(E(NANDATA, [7, 8, 9], spark=spark)),
        P(NANDATA, IDX).eq(P(NANDATA, [7, 8, 9])))
    _eq(E(NANDATA, IDX, spark=spark).lt(E(NANDATA, [1, 2, 3], spark=spark)),
        P(NANDATA, IDX).lt(P(NANDATA, [1, 2, 3])))


# ---- Series operand rules (ADVICE r13 low + axis surface) ---------------


def test_series_fill_value_not_implemented(spark):
    with pytest.raises(NotImplementedError, match="fill_value 0 not supported"):
        E(NANDATA, IDX, spark=spark).add(
            Series({"x": 1.0}, spark=spark), fill_value=0
        )


def test_series_dict_ctor_keys_are_index(spark):
    es = Series({"x": 2.0, "y": 3.0}, spark=spark)
    got = es.to_pandas()
    assert list(got.index) == ["x", "y"]
    assert list(got) == [2.0, 3.0]


def test_axis0_broadcast(spark):
    s = pd.Series([10.0, 20.0, 30.0], index=IDX)
    es = Series([10.0, 20.0, 30.0], index=IDX, spark=spark)
    _eq(E(NANDATA, IDX, spark=spark).sub(es, axis=0), P(NANDATA, IDX).sub(s, axis=0))
    # partial index: union rows, NaN everywhere off-match
    s1 = pd.Series([10.0], index=[1])
    es1 = Series([10.0], index=[1], spark=spark)
    _eq(E(NANDATA, IDX, spark=spark).add(es1, axis="index"),
        P(NANDATA, IDX).add(s1, axis="index"))


def test_axis0_same_anchor_zero_join(spark):
    ef = E(NANDATA, IDX, spark=spark)
    pf = P(NANDATA, IDX)
    _eq(ef.div(ef["x"], axis=0), pf.div(pf["x"], axis=0))
    plan = ef.div(ef["x"], axis=0)._materialized()._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan


def test_axis1_explicit(spark):
    s = pd.Series({"x": 2.0, "y": 3.0})
    es = Series({"x": 2.0, "y": 3.0}, spark=spark)
    _eq(E(NANDATA, IDX, spark=spark).mul(es, axis=1), P(NANDATA, IDX).mul(s, axis=1))


def test_named_comparison_axis0(spark):
    s = pd.Series([1.0, 2.0], index=[1, 2])
    es = Series([1.0, 2.0], index=[1, 2], spark=spark)
    d = {"x": [1.0, NAN]}
    _eq(E(d, [1, 2], spark=spark).eq(es, axis=0), P(d, [1, 2]).eq(s, axis=0))


# ---- duplicate labels cross-anchor --------------------------------------


def test_dup_labels_differing_sequences_cartesian(spark):
    _eq(E({"x": [1.0, 2.0, 3.0]}, [1, 1, 2], spark=spark)
        + E({"x": [10.0, 20.0, 30.0]}, [1, 2, 2], spark=spark),
        P({"x": [1.0, 2.0, 3.0]}, [1, 1, 2])
        + P({"x": [10.0, 20.0, 30.0]}, [1, 2, 2]))


def test_dup_labels_identical_sequences_positional(spark):
    DUP = [1, 1, 2]
    _eq(E({"x": [1.0, 2.0, 3.0]}, DUP, spark=spark)
        + E({"x": [10.0, 20.0, 30.0]}, DUP, spark=spark),
        P({"x": [1.0, 2.0, 3.0]}, DUP) + P({"x": [10.0, 20.0, 30.0]}, DUP))


# ---- string columns ------------------------------------------------------


def test_string_frame_concat(spark):
    _eq(E({"s": ["a", "b", "c"]}, IDX, spark=spark)
        + E({"s": ["x", "y", "z"]}, IDX, spark=spark),
        P({"s": ["a", "b", "c"]}, IDX) + P({"s": ["x", "y", "z"]}, IDX))


def test_string_frame_scalar_concat_and_compare(spark):
    _eq(E({"s": ["a", "b"]}, spark=spark) + "q", P({"s": ["a", "b"]}) + "q")
    _eq(E({"s": ["a", "b"]}, spark=spark) == "a", P({"s": ["a", "b"]}) == "a")
    _eq(E({"s": ["a", "b"]}, spark=spark) < "b", P({"s": ["a", "b"]}) < "b")
    with pytest.raises(TypeError):
        E({"s": ["a", "b"]}, spark=spark) * E({"s": ["x", "y"]}, spark=spark)
    with pytest.raises(TypeError):
        E({"s": ["a", "b"]}, spark=spark) + 1


def test_string_fill_value_rules(spark):
    # one-sided string column with a NUMERIC fill -> pandas TypeError
    sa = {"s": ["a", "b", "c"], "n": [1.0, 2.0, 3.0]}
    with pytest.raises(TypeError, match="can only concatenate str"):
        E(sa, IDX, spark=spark).add(E({"n": [1.0, 1.0, 1.0]}, IDX, spark=spark), fill_value=0)
    # a STRING fill works like pandas
    s1 = {"s": ["a", None]}
    s2 = {"s": ["x", "y"]}
    _eq(E(s1, [1, 2], spark=spark).add(E(s2, [1, 2], spark=spark), fill_value="Z"),
        P(s1, [1, 2]).add(P(s2, [1, 2]), fill_value="Z"))


# ---- corrected scalar arithmetic helpers --------------------------------


def test_scalar_mod_divisor_sign(spark):
    NEG = {"x": [7.0, -7.0, 7.5], "y": [-3.0, 3.0, 0.0]}
    _eq(E(NEG, IDX, spark=spark) % -3, P(NEG, IDX) % -3)
    _eq(E(NEG, IDX, spark=spark) % 0, P(NEG, IDX) % 0)


def test_scalar_floordiv_nan_guard(spark):
    _eq(E(NANDATA, IDX, spark=spark) // 2, P(NANDATA, IDX) // 2)


def test_scalar_pow_nan_rules(spark):
    _eq(E(NANDATA, IDX, spark=spark) ** 0, P(NANDATA, IDX) ** 0)
    _eq(1 ** E(NANDATA, IDX, spark=spark), 1 ** P(NANDATA, IDX))


def test_scalar_div_by_zero_no_ansi_throw(spark):
    NEG = {"x": [7.0, -7.0, 0.0]}
    _eq(E(NEG, IDX, spark=spark) / 0, P(NEG, IDX) / 0)


def test_cross_anchor_mod_negatives(spark):
    _eq(E({"x": [7.0, -7.0, 8.0]}, IDX, spark=spark)
        % E({"x": [-3.0, 3.0, -5.0]}, IDX, spark=spark),
        P({"x": [7.0, -7.0, 8.0]}, IDX) % P({"x": [-3.0, 3.0, -5.0]}, IDX))


def test_named_floordiv_mod_pow_fill_value(spark):
    d2 = {"x": [2.0, 2.0, 2.0], "y": [2.0, 2.0, 2.0]}
    _eq(E(NANDATA, IDX, spark=spark).floordiv(E(d2, IDX, spark=spark), fill_value=1),
        P(NANDATA, IDX).floordiv(P(d2, IDX), fill_value=1))
    _eq(E(NANDATA, IDX, spark=spark).mod(3, fill_value=10),
        P(NANDATA, IDX).mod(3, fill_value=10))
    _eq(E(NANDATA, IDX, spark=spark).pow(2, fill_value=3),
        P(NANDATA, IDX).pow(2, fill_value=3))


# ---- bool edge rules -----------------------------------------------------


def test_bool_bool_unsupported_ops_raise(spark):
    b1 = E({"b": [True, False]}, spark=spark)
    b2 = E({"b": [True, True]}, spark=spark)
    for name in ("div", "floordiv", "pow"):
        with pytest.raises(NotImplementedError, match="not implemented for bool"):
            getattr(b1, name)(b2)
    # mod int-upcasts (True % True == 0)
    _eq(b1 % b2, P({"b": [True, False]}) % P({"b": [True, True]}))


def test_bool_scalar_true_is_or(spark):
    _eq(E({"b": [True, False]}, spark=spark) + True,
        P({"b": [True, False]}) + True)
    _eq(E({"b": [True, False]}, spark=spark) / 2,
        P({"b": [True, False]}) / 2)


# ---- chained cross-anchor -----------------------------------------------


def test_chained_cross_anchor_values(spark):
    e = (E(NANDATA, IDX, spark=spark) + E(NANDATA, IDX, spark=spark)) + E(NANDATA, IDX, spark=spark)
    p = (P(NANDATA, IDX) + P(NANDATA, IDX)) + P(NANDATA, IDX)
    _eq(e, p)


# ---- MultiIndex alignment + ctor (r14) ----------------------------------


def test_ctor_multiindex_roundtrip(spark):
    mi = pd.MultiIndex.from_tuples([(1, "a"), (1, "b"), (2, "a")])
    _eq(PFrame({"x": [1.0, 2.0, 3.0]}, index=mi, spark=spark),
        pd.DataFrame({"x": [1.0, 2.0, 3.0]}, index=mi))
    named = pd.MultiIndex.from_tuples(
        [(2, "b"), (1, "a"), (2, "a")], names=["g", "k"]
    )  # non-monotonic: ctor order helper engages
    _eq(PFrame({"x": [1.0, 2.0, 3.0]}, index=named, spark=spark),
        pd.DataFrame({"x": [1.0, 2.0, 3.0]}, index=named))


def test_ctor_multiindex_reset_index_and_xs(spark):
    mi = pd.MultiIndex.from_tuples([(1, "a"), (1, "b"), (2, "a")])
    _eq(PFrame({"x": [1.0, 2.0, 3.0]}, index=mi, spark=spark).reset_index(),
        pd.DataFrame({"x": [1.0, 2.0, 3.0]}, index=mi).reset_index())
    named = pd.MultiIndex.from_tuples(
        [(1, "a"), (1, "b"), (2, "a")], names=["g", "k"]
    )
    _eq(PFrame({"x": [1.0, 2.0, 3.0]}, index=named, spark=spark).xs(1, level="g"),
        pd.DataFrame({"x": [1.0, 2.0, 3.0]}, index=named).xs(1, level="g"))


def test_multiindex_cross_anchor_binops(spark):
    mk = lambda d: PFrame(d, spark=spark).set_index(["g", "k"])
    pk = lambda d: pd.DataFrame(d).set_index(["g", "k"])
    D1 = {"g": [1, 1, 2], "k": ["a", "b", "a"], "x": [1.0, 2.0, 3.0]}
    D2 = {"g": [1, 1, 2], "k": ["a", "b", "a"], "x": [10.0, 20.0, 30.0]}
    D3 = {"g": [2, 1], "k": ["a", "b"], "x": [100.0, 200.0]}
    _eq(mk(D1) + mk(D2), pk(D1) + pk(D2))
    _eq(mk(D1) + mk(D3), pk(D1) + pk(D3))  # differing labels: union
    _eq(mk(D1) == mk(D2), pk(D1) == pk(D2))


def test_multiindex_vs_flat_raises(spark):
    mi = pd.MultiIndex.from_tuples([(1, "a"), (2, "b")])
    with pytest.raises(ValueError, match="no overlapping index names"):
        PFrame({"x": [1.0, 2.0]}, index=mi, spark=spark) + PFrame({"x": [1.0, 2.0]}, spark=spark)


# ---- round-2 probe pins (reflected/ordered/empty seams) -----------------


def test_reflected_named_ops(spark):
    s = pd.Series([10.0, 20.0, 30.0], index=IDX)
    es = Series([10.0, 20.0, 30.0], index=IDX, spark=spark)
    _eq(E(NANDATA, IDX, spark=spark).rsub(es, axis=0), P(NANDATA, IDX).rsub(s, axis=0))
    _eq(E({"x": [3.0, -4.0, 5.0]}, IDX, spark=spark).rmod(7),
        P({"x": [3.0, -4.0, 5.0]}, IDX).rmod(7))
    _eq(E(NANDATA, IDX, spark=spark).rpow(2), P(NANDATA, IDX).rpow(2))
    _eq("q" + E({"s": ["a", "b"]}, spark=spark), "q" + P({"s": ["a", "b"]}))


def test_axis0_cross_anchor_nonmonotonic_series(spark):
    s2 = pd.Series([1.0, 2.0, 3.0], index=[2, 1, 3])
    es2 = Series([1.0, 2.0, 3.0], index=[2, 1, 3], spark=spark)
    _eq(E(NANDATA, IDX, spark=spark).add(es2, axis=0),
        P(NANDATA, IDX).add(s2, axis=0))


def test_named_comparison_dup_labels_aligns(spark):
    _eq(E({"x": [1.0, 2.0, 3.0]}, [1, 1, 2], spark=spark).eq(
        E({"x": [1.0, 20.0, 3.0]}, [1, 2, 2], spark=spark)),
        P({"x": [1.0, 2.0, 3.0]}, [1, 1, 2]).eq(P({"x": [1.0, 20.0, 3.0]}, [1, 2, 2])))


def test_empty_frame_ctor_and_align(spark):
    """r14 probe R8: Spark refuses schema inference on empty uploads —
    the ctor now passes an explicit DDL schema from the pandas dtypes."""
    _eq(E({"x": []}, spark=spark) + E({"x": [1.0, 2.0]}, spark=spark),
        P({"x": []}) + P({"x": [1.0, 2.0]}))
    _eq(E({"x": [], "y": []}, spark=spark), P({"x": [], "y": []}))
    assert Series([], spark=spark).sum() == 0


def test_mixed_chain_same_then_cross_anchor(spark):
    pf, pf2 = P(NANDATA, IDX), P(NANDATA, IDX)
    ef, ef2 = E(NANDATA, IDX, spark=spark), E(NANDATA, IDX, spark=spark)
    _eq(((ef * 2) - ef2).mod(5), ((pf * 2) - pf2).mod(5))


def test_pow_frame_cross_anchor_special_cases(spark):
    # NaN ** 0 == 1.0 survives the cross-anchor join (dtype-resolved mask)
    _eq(E({"x": [2.0, 3.0, NAN]}, IDX, spark=spark) ** E({"x": [2.0, 0.0, 0.0]}, IDX, spark=spark),
        P({"x": [2.0, 3.0, NAN]}, IDX) ** P({"x": [2.0, 0.0, 0.0]}, IDX))


# Ledgered deviation (r14 probe R6): pandas columns holding None among
# booleans are OBJECT dtype and arithmetic runs python-level (True+True=2);
# the engine maps them to Spark boolean-with-NULL and applies the numpy
# bool-frame rules (+ is OR). Nullable-bool object semantics are not
# reproduced — cast explicitly for pandas-object behavior.


# ---- logical / bitwise / unary dunders (r14) ----------------------------


def test_logical_dunders(spark):
    B1 = {"a": [True, False], "b": [True, True]}
    B2 = {"a": [True, True], "c": [False, True]}
    _eq(E(B1, spark=spark) & E(B2, spark=spark), P(B1) & P(B2))
    _eq(E(B1, spark=spark) | E(B2, spark=spark), P(B1) | P(B2))
    _eq(E(B1, spark=spark) ^ E(B1, spark=spark), P(B1) ^ P(B1))
    # one-sided ROWS fill False before the op (pandas _logical_method)
    _eq(E({"a": [True, False]}, [1, 2], spark=spark) & E({"a": [True, True]}, [2, 3], spark=spark),
        P({"a": [True, False]}, [1, 2]) & P({"a": [True, True]}, [2, 3]))
    _eq(E(B1, spark=spark) & True, P(B1) & True)
    # int ⊕ int is bitwise; float raises
    _eq(E({"a": [6, 3]}, spark=spark) & E({"a": [3, 1]}, spark=spark),
        P({"a": [6, 3]}) & P({"a": [3, 1]}))
    with pytest.raises(TypeError):
        E({"a": [1.0, 0.0]}, spark=spark) & E({"a": [1.0, 1.0]}, spark=spark)


def test_comparison_chain_idiom(spark):
    d = {"x": [1.0, 5.0, 9.0]}
    _eq((E(d, spark=spark) > 2) & (E(d, spark=spark) < 8),
        (P(d) > 2) & (P(d) < 8))


def test_unary_dunders(spark):
    _eq(~E({"a": [True, False]}, spark=spark), ~P({"a": [True, False]}))
    _eq(~E({"a": [1, 2]}, spark=spark), ~P({"a": [1, 2]}))
    with pytest.raises(TypeError):
        ~E({"a": [1.0]}, spark=spark)
    _eq(-E({"a": [1.5, NAN]}, spark=spark), -P({"a": [1.5, NAN]}))
    with pytest.raises(TypeError):
        -E({"s": ["a"]}, spark=spark)
    _eq(abs(E({"a": [-1.5, 2.0]}, spark=spark)), abs(P({"a": [-1.5, 2.0]})))


def test_series_logical_bitwise_unary(spark):
    """r14: Series & | ^ ~ - are dtype-aware like the frame forms —
    bool logical (missing filled False), int bitwise, float raises;
    -bool is logical NOT (pandas maps neg on bool to inv)."""
    S = pd.Series
    B, B2 = [True, False, True], [True, True, False]
    def se(d, i=None):
        return Series(d, index=i, spark=spark)
    def eq(e, p):
        pd.testing.assert_series_equal(
            e.to_pandas(), p, check_dtype=False, rtol=1e-9, check_names=False
        )
    eq(se(B) ^ se(B2), S(B) ^ S(B2))
    eq(se([6, 3]) & se([3, 1]), S([6, 3]) & S([3, 1]))
    eq(~se([1, 2]), ~S([1, 2]))
    eq(-se([True, False]), -S([True, False]))
    eq(se([True, None, True]) & se([True, True, None]),
       S([True, None, True]) & S([True, True, None]))
    eq(True & se(B), True & S(B))
    eq(se(B, [1, 2, 3]) & se(B2, [2, 3, 4]), S(B, [1, 2, 3]) & S(B2, [2, 3, 4]))
    with pytest.raises(TypeError):
        se([1.0, 0.0]) & se([1.0, 1.0])
    with pytest.raises(TypeError):
        ~se([1.5])


def test_where_mask_frame_other(spark):
    """r14: where/mask accept a same-anchor FRAME fallback — the
    df.where(df > 0, -df) idiom; columns the fallback lacks become NaN."""
    d = {"x": [1.0, -2.0, 3.0], "y": [-4.0, 5.0, NAN]}
    pf, ef = P(d), E(d, spark=spark)
    _eq(ef.where(ef > 0, -ef), pf.where(pf > 0, -pf))
    _eq(ef.mask(ef > 0, ef * 10), pf.mask(pf > 0, pf * 10))
    _eq(ef.where(ef > 0, (ef * 0)[["x"]]), pf.where(pf > 0, (pf * 0)[["x"]]))
    _eq(ef.where(ef > 0, 0.0), pf.where(pf > 0, 0.0))


def test_series_string_arithmetic(spark):
    """r14: Series string + is concat, * int is repetition; other
    arithmetic raises pandas' TypeError (was Spark DATATYPE_MISMATCH)."""
    S = pd.Series
    def se(d):
        return Series(d, spark=spark)
    def eq(e, p):
        pd.testing.assert_series_equal(
            e.to_pandas(), p, check_dtype=False, check_names=False
        )
    eq(se(["a", "b"]) + se(["x", "y"]), S(["a", "b"]) + S(["x", "y"]))
    eq(se(["a", "b"]) + "q", S(["a", "b"]) + "q")
    eq("q" + se(["a", "b"]), "q" + S(["a", "b"]))
    eq(se(["a", "b"]) * se([2, 3]), S(["a", "b"]) * S([2, 3]))
    eq(3 * se(["a", "b"]), 3 * S(["a", "b"]))
    with pytest.raises(TypeError, match="multiply sequence"):
        se(["a", "b"]) * se(["x", "y"])
    with pytest.raises(TypeError):
        se(["a", "b"]) - se(["x", "y"])
    with pytest.raises(TypeError, match="concatenate str"):
        se(["a", "b"]) + 1
