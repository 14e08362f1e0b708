"""Round-13 probe fixes, pinned.

The r13 probe drove the r12 duplicate-label alignment campaign one seam
deeper and found the NON-TOTAL order-spec class: when the recorded sort
key doesn't uniquely order rows, the label+helper rowalign join fans out
inside tie groups (1540 lineitem rows -> 2294 on a (orderkey, linenumber)
sort of a slice where that pair repeats). Three fixes, pinned here:

1. POSITIONAL OPS COMPOSE ON THEIR SOURCE ANCHOR. shift/cumsum/
   pct_change on a window-free value column build their window directly
   over the anchor (core/window.py _window_free), so s ⊕ s.shift() and
   f[c] = s.diff() are column compositions — zero joins, exact pairing
   even under tie-ful specs. A binop meeting its own materialized
   derivation (diff chains, windowed sources) pairs through the recorded
   _VALUE column (_mat_pair) instead of a label join.

2. ALIGNMENT SEMANTICS MEASURED AGAINST pandas 2.x, NOT ASSUMED. The
   probe MEASURED pandas' duplicate-label rules (the r12 ledger's "pandas
   raises on duplicate-label arithmetic" was wrong): ARITHMETIC between
   non-identical duplicate-label sequences is the PER-LABEL CARTESIAN
   (k_l × k_r rows per label, union of labels) — exactly what the
   engine's label join produces, so that path stays guard-free. The
   REINDEX-class ops (where/mask/update/frame setitem) DO raise 'cannot
   reindex on an axis with duplicate labels' — every rowalign_left_join
   payload pull guards its right side with the lazy 1-row broadcast-stat
   idiom. The one engine-only raise: a lineage-proven rowalign whose
   helper key is NOT total (duplicate labels tying on every order-spec
   column) — pandas would pair positionally there, the engine cannot,
   and a loud raise beats k²-wrong rows (ledgered, SCALE.md r13).

3. sort_values IS STABLE WRT THE PRIOR VISIBLE ORDER. Both Series and
   DataFrame sort_values now append the prior order spec as the
   tie-break (exactly like sort_index since r12); previously ties fell
   back to the INDEX, which is scan order after merge (r13 probe: a
   post-merge sort broke the documented kind='stable' contract). Helper
   names are minted past the prior spec's so a re-sort by the same
   column can't overwrite the recorded old sort values.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pontem_spark.core import DataFrame as PFrame, Series


def _same(eres, pres) -> bool:
    g = eres.to_pandas()
    if len(g) != len(pres) or list(g.index) != list(pres.index):
        return False
    import numpy as np

    for a, b in zip(pres.values, g.values):
        an, bn = bool(pd.isna(a)), bool(pd.isna(b))
        if an != bn:
            return False
        if not an and not np.isclose(a, b):
            return False
    return True


# -- 1. same-anchor positional composition --------------------------------


def test_shift_binop_same_anchor_zero_join(spark):
    s = Series([1.0, 2.0, 3.0, 4.0], index=[1, 1, 2, 2], spark=spark)
    d = s - s.shift(1)
    assert d._internal.sdf is s._internal.sdf  # no re-anchor, no join
    ps = pd.Series([1.0, 2.0, 3.0, 4.0], index=[1, 1, 2, 2])
    assert _same(d, ps - ps.shift(1))


def test_cumsum_share_same_anchor(spark):
    s = Series([1.0, 2.0, 3.0, 4.0], index=[1, 1, 2, 2], spark=spark)
    r = s / s.cumsum()
    assert r._internal.sdf is s._internal.sdf
    ps = pd.Series([1.0, 2.0, 3.0, 4.0], index=[1, 1, 2, 2])
    assert _same(r, ps / ps.cumsum())


def test_diff_chain_mat_pair_no_fanout(spark):
    # second diff's shift falls back to materialization (windowed input);
    # _mat_pair pairs it with its source through the recorded _VALUE
    s = Series([1.0, 3.0, 2.0, 5.0, 4.0], index=[1, 1, 2, 2, 3], spark=spark)
    dd = s.diff().diff()
    assert len(dd) == 5
    ps = pd.Series([1.0, 3.0, 2.0, 5.0, 4.0], index=[1, 1, 2, 2, 3])
    assert _same(dd, ps.diff().diff())


def test_cummax_shift_cmp_masked_path(spark):
    s = Series([1.0, 3.0, 2.0, 5.0], index=[1, 1, 2, 2], spark=spark)
    q = s >= s.cummax().shift(1)
    ps = pd.Series([1.0, 3.0, 2.0, 5.0], index=[1, 1, 2, 2])
    pq = ps >= ps.cummax().shift(1)
    g = q.to_pandas()
    assert list(g.values) == list(pq.values)


def test_pct_change_same_anchor(spark):
    s = Series([1.0, None, 4.0, 2.0], index=[1, 1, 2, 2], spark=spark)
    ps = pd.Series([1.0, None, 4.0, 2.0], index=[1, 1, 2, 2])
    assert _same(s.pct_change(fill_method=None), ps.pct_change(fill_method=None))


def test_setitem_positional_derivations_no_fanout(spark):
    data = {"v": [1.0, 2.0, 3.0, 4.0, 5.0]}
    idx = [1, 1, 2, 2, 3]
    f = PFrame(data, index=idx, spark=spark)
    v = f["v"]
    f["delta"] = v - v.shift(1)
    f["share"] = v / v.cumsum()
    g = f.to_pandas()
    pf = pd.DataFrame(data, index=idx)
    pf["delta"] = pf["v"] - pf["v"].shift(1)
    pf["share"] = pf["v"] / pf["v"].cumsum()
    assert len(g) == 5
    pd.testing.assert_frame_equal(g, pf, check_dtype=False)


# -- 2. measured pandas duplicate-label semantics --------------------------


def _fanout_same(eres, pres) -> bool:
    """Compare per-label value MULTISETS: pandas orders the cartesian
    left-major within a label; the engine's distributed join leaves the
    intra-label order unspecified (ledgered)."""
    g = eres.to_pandas()
    if len(g) != len(pres):
        return False
    ek = sorted(zip(g.index, g.fillna(-9e18).values.round(9)))
    pk = sorted(zip(pres.index, pres.fillna(-9e18).values.round(9)))
    return ek == pk


def test_dup_label_arithmetic_fans_out_like_pandas(spark):
    # pandas 2.x: per-label cartesian, measured — NOT a raise
    s1 = Series([1.0, 2.0, 3.0], index=[1, 1, 2], spark=spark)
    s2 = Series([10.0, 20.0], index=[1, 2], spark=spark)
    p1 = pd.Series([1.0, 2.0, 3.0], index=[1, 1, 2])
    p2 = pd.Series([10.0, 20.0], index=[1, 2])
    assert _fanout_same(s1 + s2, p1 + p2)
    assert _fanout_same(s1.add(s2, fill_value=0), p1.add(p2, fill_value=0))


def test_dup_label_both_sides_cartesian(spark):
    s1 = Series([0.0, 1.0, 2.0], index=[1, 1, 2], spark=spark)
    s2 = Series([10.0, 11.0, 12.0], index=[1, 1, 1], spark=spark)
    p1 = pd.Series([0.0, 1.0, 2.0], index=[1, 1, 2])
    p2 = pd.Series([10.0, 11.0, 12.0], index=[1, 1, 1])
    assert _fanout_same(s1 + s2, p1 + p2)  # 2x3 + 1 unmatched = 7 rows


def test_dup_label_combine_first_fans_out(spark):
    s = Series([1.0, 2.0, 3.0], index=[1, 2, 3], spark=spark)
    o = Series([10.0, 20.0], index=[1, 1], spark=spark)
    ps = pd.Series([1.0, 2.0, 3.0], index=[1, 2, 3])
    po = pd.Series([10.0, 20.0], index=[1, 1])
    assert _fanout_same(s.combine_first(o), ps.combine_first(po))


def test_dup_label_rowalign_tie_raises(spark):
    # lineage-proven rowalign with a NON-total helper key: pandas would
    # pair positionally (identical sequences); the engine cannot and
    # raises instead of returning k²-wrong rows (ledgered)
    from pontem_spark.core import from_spark

    sdf = spark.createDataFrame(
        [(1, 5.0), (1, 5.0), (2, 7.0), (2, 7.0)], "i bigint, v double"
    )
    f0 = from_spark(sdf, index_col="i")
    # two independent sorts OF THE SAME ROOT mint identical helper names
    # from f0's (empty) taken set: equal specs + shared tokens -> the
    # rowalign path; (i, v) ties on every helper -> unpairable
    a = f0.sort_values("v")["v"]
    b = f0.sort_values("v")["v"]
    with pytest.raises(Exception, match="cannot pair rows positionally"):
        (a + b).to_pandas()


def test_update_dup_label_other_raises(spark):
    # reindex-class ops DO raise in pandas — the rowalign guard pins it
    s = Series([1.0, 2.0, 3.0], index=[1, 2, 3], spark=spark)
    o = Series([10.0, 20.0], index=[1, 1], spark=spark)
    s.update(o)
    with pytest.raises(Exception, match="cannot reindex"):
        s.to_pandas()


def test_unique_label_alignment_still_exact(spark):
    s3 = Series([1.0, None, 2.0], index=[1, 2, 3], spark=spark)
    s4 = Series([10.0, 20.0], index=[2, 3], spark=spark)
    p3 = pd.Series([1.0, None, 2.0], index=[1, 2, 3])
    p4 = pd.Series([10.0, 20.0], index=[2, 3])
    assert _same(s3 + s4, p3 + p4)
    assert _same(s3.add(s4, fill_value=0), p3.add(p4, fill_value=0))


def test_dup_label_lineage_rowalign_still_positional(spark):
    # shared lineage + total helper key (ctor __ctor__): the rowalign
    # join still pairs positionally, no raise, no fan-out
    s = Series([1.0, 2.0, 3.0, 4.0], index=[1, 1, 2, 2], spark=spark)
    d = s.sort_values() - s.sort_values().shift(1)
    assert len(d) == 4
    ps = pd.Series([1.0, 2.0, 3.0, 4.0], index=[1, 1, 2, 2])
    pd_d = ps.sort_values(kind="stable") - ps.sort_values(kind="stable").shift(1)
    assert _same(d, pd_d)


def test_where_foreign_dup_cond_raises(spark):
    s = Series([1.0, 2.0, 3.0], index=[1, 2, 3], spark=spark)
    cond = Series([True, False, True, False], index=[1, 1, 2, 3], spark=spark)
    with pytest.raises(Exception, match="cannot reindex"):
        s.where(cond, 0).to_pandas()


# -- 3. stable sort_values ------------------------------------------------


def test_sort_values_stable_after_merge(spark):
    l = {"k": [1, 1, 2], "a": [10.0, 11.0, 12.0]}
    r = {"k": [1, 1, 2], "b": [0.1, 0.2, 0.3]}
    pm = (
        pd.DataFrame(l)
        .merge(pd.DataFrame(r), on="k")
        .sort_values("b", ascending=False, kind="stable")
        .reset_index(drop=True)
    )
    em = (
        PFrame(l, spark=spark)
        .merge(PFrame(r, spark=spark), on="k")
        .sort_values("b", ascending=False)
        .reset_index(drop=True)
    )
    assert em.to_pandas().values.tolist() == pm.values.tolist()


def test_sort_values_chained_stable(spark):
    l = {"k": [1, 1, 2], "a": [10.0, 11.0, 12.0]}
    r = {"k": [1, 1, 2], "b": [0.1, 0.2, 0.3]}
    pm = (
        pd.DataFrame(l)
        .merge(pd.DataFrame(r), on="k")
        .sort_values("b", ascending=False, kind="stable")
        .sort_values("k", kind="stable")
        .reset_index(drop=True)
    )
    em = (
        PFrame(l, spark=spark)
        .merge(PFrame(r, spark=spark), on="k")
        .sort_values("b", ascending=False)
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert em.to_pandas().values.tolist() == pm.values.tolist()


def test_sort_values_resort_same_column_minting(spark):
    l = {"k": [1, 1, 2], "a": [10.0, 11.0, 12.0]}
    r = {"k": [1, 1, 2], "b": [0.1, 0.2, 0.3]}
    pm = (
        pd.DataFrame(l)
        .merge(pd.DataFrame(r), on="k")
        .sort_values("b", kind="stable")
        .sort_values("b", ascending=False, kind="stable")
        .reset_index(drop=True)
    )
    em = (
        PFrame(l, spark=spark)
        .merge(PFrame(r, spark=spark), on="k")
        .sort_values("b")
        .sort_values("b", ascending=False)
        .reset_index(drop=True)
    )
    assert em.to_pandas().values.tolist() == pm.values.tolist()


def test_series_sort_values_chain_stable(spark):
    ps = pd.Series([1.0, 2.0, 1.0, 2.0], index=[4, 3, 2, 1])
    es = Series([1.0, 2.0, 1.0, 2.0], index=[4, 3, 2, 1], spark=spark)
    pr = ps.sort_values(ascending=False, kind="stable").sort_values(kind="stable")
    er = es.sort_values(ascending=False).sort_values()
    g = er.to_pandas()
    assert list(g.index) == list(pr.index)
    assert list(g.values) == list(pr.values)


# -- groupby-transform seams (probe b, clean sweep) ------------------------


def test_transform_binop_dup_labels(spark):
    data = {"g": ["a", "a", "b", "b", "a"], "v": [1.0, 2.0, 3.0, 4.0, 5.0]}
    idx = [1, 1, 2, 2, 3]
    pf = pd.DataFrame(data, index=idx)
    ef = PFrame(data, index=idx, spark=spark)
    pt = pf.groupby("g")["v"].transform("sum")
    et = ef.groupby("g")["v"].transform("sum")
    assert _same(ef["v"] - et, pf["v"] - pt)
    pf["share"] = pf["v"] / pt
    ef["share"] = ef["v"] / et
    assert _same(ef["share"], pf["share"])
    assert _same(ef["v"] - et.shift(1), pf["v"] - pt.shift(1))


# -- frame.align both-dup: pandas itself fans out (probe c) ----------------


def test_align_both_dup_matches_pandas_fanout(spark):
    pa = pd.DataFrame({"x": [1.0, 2.0, 3.0]}, index=[1, 1, 2])
    pc = pd.DataFrame({"x": [5.0, 6.0]}, index=[1, 1])
    plf, prf = pa.align(pc)
    ea = PFrame({"x": [1.0, 2.0, 3.0]}, index=[1, 1, 2], spark=spark)
    ec = PFrame({"x": [5.0, 6.0]}, index=[1, 1], spark=spark)
    elf, erf = ea.align(ec)
    gl, gr = elf.to_pandas(), erf.to_pandas()
    assert len(gl) == len(plf) == 5  # align is the aligner where pandas fans out
    assert sorted(gl["x"].fillna(-1)) == sorted(plf["x"].fillna(-1))
    assert sorted(gr["x"].fillna(-1)) == sorted(prf["x"].fillna(-1))
