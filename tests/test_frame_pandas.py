"""Differential tests: pontem_spark.core.DataFrame vs pandas.DataFrame —
the multi-column frame the reference left as an empty stub
(``pontem/dataframe/__init__.py``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pontem_spark.core import DataFrame, Series
from pontem_spark.core.frame import concat

RAW = {
    "a": [1, 2, 3, 4, 5],
    "b": [10.0, 20.0, 30.0, 40.0, 50.0],
    "seg": ["x", "y", "x", "y", "x"],
}


@pytest.fixture()
def pf(spark):
    return DataFrame(RAW, spark=spark)


@pytest.fixture()
def wf():
    return pd.DataFrame(RAW)


def test_shape_columns(pf, wf):
    assert pf.shape == wf.shape
    assert pf.columns == list(wf.columns)


def test_column_get_is_series(pf, wf):
    assert pf["a"].sum() == wf["a"].sum()
    assert pf["a"].name == "a"


def test_column_assignment_expression(pf, wf):
    # the README pitch: df['new_col'] = df['other_col'] * 2 (README.md:16-19)
    pf["c"] = pf["a"] * 2 + pf["b"]
    wf["c"] = wf["a"] * 2 + wf["b"]
    np.testing.assert_allclose(pf.to_pandas()["c"].values, wf["c"].values)
    # still a single anchor: no join introduced
    plan = pf._materialized()._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan


def test_column_assignment_scalar(pf, wf):
    pf["k"] = 7
    wf["k"] = 7
    np.testing.assert_array_equal(pf.to_pandas()["k"].values, wf["k"].values)


def test_assign(pf, wf):
    got = pf.assign(d=lambda d: d["a"] + 1).to_pandas()["d"]
    want = wf.assign(d=lambda d: d["a"] + 1)["d"]
    np.testing.assert_array_equal(got.values, want.values)


def test_mask_filter(pf, wf):
    got = pf[pf["a"] > 2].to_pandas()
    want = wf[wf["a"] > 2]
    np.testing.assert_array_equal(got["a"].values, want["a"].values)
    np.testing.assert_array_equal(got.index.values, want.index.values)


def test_subset_columns(pf, wf):
    assert pf[["a", "b"]].columns == ["a", "b"]


def test_drop_rename(pf, wf):
    assert pf.drop("b").columns == ["a", "seg"]
    assert pf.rename({"a": "alpha"}).columns == ["alpha", "b", "seg"]


def test_sort_values(pf, wf):
    got = pf.sort_values("b", ascending=False).to_pandas()
    want = wf.sort_values("b", ascending=False)
    np.testing.assert_array_equal(got["a"].values, want["a"].values)


def test_merge_inner(spark):
    left = DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]}, spark=spark)
    right = DataFrame({"k": [2, 3, 4], "w": [200, 300, 400]}, spark=spark)
    got = left.merge(right, on="k").to_pandas().sort_values("k")
    want = pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]}).merge(
        pd.DataFrame({"k": [2, 3, 4], "w": [200, 300, 400]}), on="k"
    ).sort_values("k")
    np.testing.assert_array_equal(got["k"].values, want["k"].values)
    np.testing.assert_array_equal(got["v"].values, want["v"].values)
    np.testing.assert_array_equal(got["w"].values, want["w"].values)


def test_merge_left_and_suffixes(spark):
    left = DataFrame({"k": [1, 2], "v": [10, 20]}, spark=spark)
    right = DataFrame({"k": [2], "v": [99]}, spark=spark)
    got = left.merge(right, on="k", how="left").to_pandas().sort_values("k")
    want = pd.DataFrame({"k": [1, 2], "v": [10, 20]}).merge(
        pd.DataFrame({"k": [2], "v": [99]}), on="k", how="left"
    ).sort_values("k")
    assert sorted(got.columns) == sorted(want.columns)
    np.testing.assert_allclose(
        got["v_y"].fillna(-1).values, want["v_y"].fillna(-1).values
    )


def test_groupby_agg(pf, wf):
    got = pf.groupby("seg").agg({"a": "sum", "b": "mean"}).to_pandas().sort_index()
    want = wf.groupby("seg").agg({"a": "sum", "b": "mean"}).sort_index()
    np.testing.assert_array_equal(got.index.values, want.index.values)
    np.testing.assert_allclose(got["a"].values, want["a"].values)
    np.testing.assert_allclose(got["b"].values, want["b"].values)


def test_groupby_multi_stat(pf, wf):
    got = pf.groupby("seg").agg({"a": ["sum", "max"]}).to_pandas().sort_index()
    want = wf.groupby("seg")["a"].agg(["sum", "max"]).sort_index()
    np.testing.assert_array_equal(got["a_sum"].values, want["sum"].values)
    np.testing.assert_array_equal(got["a_max"].values, want["max"].values)


def test_groupby_convenience(pf, wf):
    got = pf.groupby("seg").sum().to_pandas().sort_index()
    want = wf.groupby("seg")[["a", "b"]].sum().sort_index()
    np.testing.assert_allclose(got["a"].values, want["a"].values)


def test_groupby_size(pf, wf):
    got = pf.groupby("seg").size().to_pandas().sort_index()
    want = wf.groupby("seg").size().sort_index()
    np.testing.assert_array_equal(got.values, want.values)


def test_concat(spark):
    a = DataFrame({"x": [1, 2]}, spark=spark)
    b = DataFrame({"x": [3, 4]}, spark=spark)
    got = concat([a, b]).to_spark().toPandas()["x"].sort_values()
    np.testing.assert_array_equal(got.values, [1, 2, 3, 4])


def test_drop_duplicates(spark):
    df = DataFrame({"x": [1, 1, 2], "y": ["a", "a", "b"]}, spark=spark)
    assert len(df.drop_duplicates(subset=["x", "y"])) == 2


def test_dropna_fillna(spark):
    df = DataFrame({"x": [1.0, None, 3.0]}, spark=spark)
    assert len(df.dropna()) == 2
    assert df.fillna(0).to_pandas()["x"].sum() == 4.0


def test_from_spark_and_read_parquet(spark, sf_dir):
    from pontem_spark.core import read_parquet

    df = read_parquet(f"{sf_dir}/nation.parquet", index_col="n_nationkey")
    assert df.columns == ["n_name", "n_regionkey"]
    assert len(df) == 25
    got = df.groupby("n_regionkey").agg({"n_name": "count"}).to_pandas()
    assert int(got["n_name"].sum()) == 25


def test_frame_agg(pf, wf):
    got = pf.agg({"a": ["sum", "max"], "b": "mean"})
    assert got["a"]["sum"] == wf["a"].sum()
    assert got["a"]["max"] == wf["a"].max()
    assert got["b"]["mean"] == wf["b"].mean()


def test_frame_describe(pf, wf):
    got = pf.describe()
    want = wf.describe()
    for c in ("a", "b"):
        for stat in ("count", "mean", "std", "min", "25%", "50%", "75%", "max"):
            np.testing.assert_allclose(got[c][stat], want[c][stat], rtol=1e-9)


def test_pivot_table(spark):
    raw = {
        "day": ["mon", "mon", "tue", "tue", "mon"],
        "kind": ["a", "b", "a", "b", "a"],
        "v": [1.0, 2.0, 3.0, 4.0, 5.0],
    }
    got = (
        DataFrame(raw, spark=spark)
        .pivot_table(index="day", columns="kind", values="v", aggfunc="sum", fill_value=0)
        .to_pandas()
        .sort_index()
    )
    want = (
        pd.DataFrame(raw)
        .pivot_table(index="day", columns="kind", values="v", aggfunc="sum", fill_value=0)
        .sort_index()
    )
    np.testing.assert_array_equal(got.index.values, want.index.values)
    np.testing.assert_allclose(got["a"].values, want["a"].values)
    np.testing.assert_allclose(got["b"].values, want["b"].values)


def test_groupby_transform_series(pf, wf):
    got = pf.groupby("seg")["b"].transform("mean").to_pandas()
    want = wf.groupby("seg")["b"].transform("mean")
    assert got.tolist() == want.tolist()


def test_groupby_transform_shares_anchor(pf, wf):
    # ratio-to-group-total stays ONE plan: no join, no extra jobs
    pf["b_rel"] = pf["b"] / pf.groupby("seg")["b"].transform("sum")
    want = wf["b"] / wf.groupby("seg")["b"].transform("sum")
    assert pf.to_pandas()["b_rel"].tolist() == want.tolist()
    plan = pf.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_groupby_transform_frame(pf, wf):
    got = pf.groupby("seg").transform({"a": "max", "b": "sum"}).to_pandas()
    want = wf.copy()
    want["a"] = wf.groupby("seg")["a"].transform("max")
    want["b"] = wf.groupby("seg")["b"].transform("sum")
    assert got["a"].tolist() == want["a"].tolist()
    assert got["b"].tolist() == want["b"].tolist()


def test_melt_matches_pandas(pf, wf):
    got = (
        pf.melt(id_vars="seg", value_vars=["a", "b"])
        .to_pandas()
        .sort_values(["seg", "variable", "value"])
        .reset_index(drop=True)
    )
    want = (
        wf.melt(id_vars="seg", value_vars=["a", "b"])
        .sort_values(["seg", "variable", "value"])
        .reset_index(drop=True)
    )
    assert got[["seg", "variable"]].values.tolist() == want[["seg", "variable"]].values.tolist()
    assert [float(v) for v in got["value"]] == [float(v) for v in want["value"]]


def test_explode_matches_pandas(spark):
    pdf = pd.DataFrame({"k": [1, 2, 3], "arr": [[1, 2], [3], []]})
    got = DataFrame(pdf, spark=spark).explode("arr").to_pandas()
    want = pdf.explode("arr")
    assert got.index.tolist() == want.index.tolist()  # repeated pandas index
    ga = [None if v != v else float(v) for v in got["arr"]]
    wa = [None if v != v else float(v) for v in want["arr"]]
    assert ga == wa


def test_nunique(pf, wf):
    got = pf.nunique()
    want = wf.nunique()
    assert {c: int(got[c]) for c in want.index} == want.to_dict()


def test_set_index(pf, wf):
    got = pf.set_index("seg").to_pandas().sort_index()
    want = wf.set_index("seg").sort_index()
    assert got.index.tolist() == want.index.tolist()
    assert got.columns.tolist() == want.columns.tolist()
    assert got["a"].tolist() == want["a"].tolist()


def test_set_index_keep_column(pf, wf):
    got = pf.set_index("seg", drop=False)
    assert got.columns == list(wf.columns)


def test_reset_index_after_set(pf, wf):
    got = pf.set_index("seg").reset_index().to_pandas()
    want = wf.set_index("seg").reset_index()
    assert got.columns.tolist() == want.columns.tolist()
    assert got.index.tolist() == want.index.tolist()  # renumbered 0..n-1
    got_sorted = got.sort_values(["seg", "a"]).reset_index(drop=True)
    want_sorted = want.sort_values(["seg", "a"]).reset_index(drop=True)
    assert got_sorted["a"].tolist() == want_sorted["a"].tolist()


def test_query(pf, wf):
    got = pf.query("a > 2 and seg == 'x'").to_pandas()
    want = wf.query("a > 2 and seg == 'x'")
    assert got["a"].tolist() == want["a"].tolist()
    assert got.index.tolist() == want.index.tolist()


def test_nlargest_nsmallest(pf, wf):
    assert pf.nlargest(2, "b").to_pandas()["b"].tolist() == wf.nlargest(2, "b")["b"].tolist()
    assert pf.nsmallest(2, "a").to_pandas()["a"].tolist() == wf.nsmallest(2, "a")["a"].tolist()


def test_duplicated_frame(spark):
    pdf = pd.DataFrame({"k": ["a", "b", "a", "a", "b"], "v": [1, 2, 3, 4, 5]})
    got = DataFrame(pdf, spark=spark).duplicated(subset=["k"]).to_pandas()
    want = pdf.duplicated(subset=["k"])
    assert got.sort_index().tolist() == want.tolist()


def test_series_duplicated(spark):
    s = pd.Series(["a", "b", "a", "a"])
    got = DataFrame({"k": s}, spark=spark)["k"].duplicated().to_pandas()
    assert got.sort_index().tolist() == s.duplicated().tolist()


def test_series_replace(pf, wf):
    got = pf["seg"].replace({"x": "X!"}).to_pandas().sort_index()
    want = wf["seg"].replace({"x": "X!"})
    assert got.tolist() == want.tolist()
    got2 = pf["a"].replace(3, 99).to_pandas().sort_index()
    assert got2.tolist() == wf["a"].replace(3, 99).tolist()


def test_corr_matrix(pf, wf):
    got = pf.corr()
    want = wf[["a", "b"]].corr()
    np.testing.assert_allclose(got.values, want.values, atol=1e-12)
    assert got.columns.tolist() == want.columns.tolist()


def test_per_column_reductions(pf, wf):
    num = wf[["a", "b"]]
    assert pf[["a", "b"]].sum().to_dict() == num.sum().to_dict()
    assert pf[["a", "b"]].mean().to_dict() == num.mean().to_dict()
    assert pf[["a", "b"]].min().to_dict() == num.min().to_dict()
    assert pf[["a", "b"]].max().to_dict() == num.max().to_dict()
    assert pf.count().to_dict() == wf.count().to_dict()


def test_sample_fraction(pf):
    n = len(pf.sample(0.5, seed=7).to_pandas())
    assert 0 <= n <= 5


def test_set_index_multi_roundtrip(spark):
    """Two-key set_index → MultiIndex in to_pandas; reset_index restores the
    key columns — differential against pandas."""
    import pandas as pd

    from pontem_spark.core.frame import DataFrame as PFrame

    pdf = pd.DataFrame(
        {
            "seg": ["a", "a", "b", "b", "c"],
            "reg": [1, 2, 1, 2, 1],
            "val": [10.0, 20.0, 30.0, 40.0, 50.0],
        }
    )
    pf = PFrame(pdf, spark=spark)

    got = pf.set_index(["seg", "reg"]).to_pandas().sort_index()
    want = pdf.set_index(["seg", "reg"]).sort_index()
    pd.testing.assert_frame_equal(got, want)

    # drop=False keeps the key columns in the body too
    got2 = pf.set_index(["seg", "reg"], drop=False).to_pandas().sort_index()
    want2 = pdf.set_index(["seg", "reg"], drop=False).sort_index()
    pd.testing.assert_frame_equal(got2[want2.columns], want2)

    # roundtrip: reset_index demotes both levels back to columns
    rt = pf.set_index(["seg", "reg"]).reset_index().to_pandas()
    want_rt = pdf.set_index(["seg", "reg"]).sort_index().reset_index()
    pd.testing.assert_frame_equal(
        rt[["seg", "reg", "val"]].reset_index(drop=True), want_rt
    )

    # single-element list behaves like the scalar form
    got3 = pf.set_index(["seg"]).to_pandas().sort_index()
    pd.testing.assert_frame_equal(got3, pdf.set_index("seg").sort_index())


def test_to_pandas_empty_multiindex(spark):
    """Empty frame with a MultiIndex materializes (ADVICE r04: from_tuples([])
    cannot infer level count)."""
    pf = DataFrame(RAW, spark=spark)
    out = pf[pf["a"] > 100].set_index(["seg", "reg"] if "reg" in RAW else ["seg", "a"]).to_pandas()
    assert len(out) == 0
    assert list(out.index.names) == ["seg", "a"]


def test_reset_index_collision_raises(spark):
    """Demoting an index level onto an existing body column raises like
    pandas instead of silently dropping the body column (ADVICE r04)."""
    pf = DataFrame(RAW, spark=spark).set_index("seg", drop=False)
    with pytest.raises(ValueError, match="already exists"):
        pf.reset_index()


def test_reset_index_distributed_plan(spark):
    """reset_index renumbering must not funnel through a single-partition
    stage (VERDICT r04 #3): the enumerated (checkpointed) result keeps the
    range partitioning — a global-window implementation would collapse to
    ONE partition. Values still match pandas exactly."""
    pf = DataFrame(RAW, spark=spark).set_index("seg")
    out = pf.reset_index()
    sdf = out._materialized()
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    # AQE coalesces test-sized data (far under the 64MB advisory size) to
    # one partition no matter the operator — that's adaptive sizing, not a
    # bottleneck. With coalescing off, the enumeration's intrinsic
    # parallelism shows: many partitions, still no SinglePartition stage
    # (a global-window implementation collapses to 1 either way).
    from pyspark.sql import functions as F

    from pontem_spark.core import from_spark

    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    try:
        spark.conf.set(coalesce_key, "false")
        big = from_spark(
            spark.range(200_000).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("v")
            )
        ).set_index("k")
        bsdf = big.reset_index()._materialized()
        assert bsdf.rdd.getNumPartitions() > 1
        assert "SinglePartition" not in bsdf._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(coalesce_key, prev)
    got = out.to_pandas()
    want = pd.DataFrame(RAW).set_index("seg").reset_index()
    got_sorted = got.sort_values(["seg", "a"]).reset_index(drop=True)
    want_sorted = want.sort_values(["seg", "a"]).reset_index(drop=True)
    assert got_sorted[["seg", "a", "b"]].equals(want_sorted[["seg", "a", "b"]])
    # renumbering is exactly 0..n-1
    assert sorted(got.index.tolist()) == list(range(len(want)))


def test_groupby_multikey_multiindex(spark):
    """groupby(list).agg returns a struct-backed MultiIndexed frame
    (VERDICT r04 #6): to_pandas yields a real pandas MultiIndex, reset_index
    demotes both levels, and size() gives a MultiIndexed Series."""
    raw = {
        "seg": ["x", "y", "x", "y", "x", "x"],
        "reg": ["a", "a", "b", "b", "a", "b"],
        "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
    }
    pf = DataFrame(raw, spark=spark)
    pdf = pd.DataFrame(raw)

    got = pf.groupby(["seg", "reg"]).agg({"v": "sum"}).to_pandas().sort_index()
    want = pdf.groupby(["seg", "reg"]).agg(v=("v", "sum")).sort_index()
    assert list(got.index.names) == ["seg", "reg"]
    pd.testing.assert_frame_equal(got, want, check_dtype=False)

    rt = pf.groupby(["seg", "reg"]).agg({"v": "sum"}).reset_index().to_pandas()
    wrt = want.reset_index()
    rt_s = rt.sort_values(["seg", "reg"]).reset_index(drop=True)[["seg", "reg", "v"]]
    wrt_s = wrt.sort_values(["seg", "reg"]).reset_index(drop=True)[["seg", "reg", "v"]]
    pd.testing.assert_frame_equal(rt_s, wrt_s, check_dtype=False)

    gs = pf.groupby(["seg", "reg"]).size().to_pandas().sort_index()
    ws = pdf.groupby(["seg", "reg"]).size().sort_index()
    assert list(gs.index.names) == ["seg", "reg"]
    assert list(gs.values) == list(ws.values)


def test_pivot_table_margins(spark):
    """pivot_table(margins=True) matches pandas: the All column/row are
    aggregates over the underlying rows (NOT means of cell means), with the
    grand total in the corner."""
    raw = {
        "seg": ["x", "y", "x", "y", "x", "x"],
        "reg": ["a", "a", "b", "b", "a", "b"],
        "v": [1.0, 2.0, 3.0, 4.0, 5.0, 7.0],
    }
    pf = DataFrame(raw, spark=spark)
    pdf = pd.DataFrame(raw)
    for aggfunc in ("mean", "sum"):
        got = (
            pf.pivot_table(index="seg", columns="reg", values="v",
                           aggfunc=aggfunc, margins=True)
            .to_pandas()
            .sort_index()
        )
        want = pd.pivot_table(
            pdf, index="seg", columns="reg", values="v",
            aggfunc=aggfunc, margins=True,
        ).sort_index()
        want.index = want.index.astype(str)
        want.columns = [str(c) for c in want.columns]
        want.columns.name = None
        pd.testing.assert_frame_equal(
            got[sorted(got.columns)], want[sorted(want.columns)],
            check_dtype=False, check_names=False,
        )


def test_str_cat_scalar(spark):
    """str.cat() with no others collapses to ONE Python string in index
    order, exactly pandas."""
    from pontem_spark.core import Series

    data = ["b", "a", "c", "d"]
    s = Series(data, name="t", spark=spark)
    w = pd.Series(data, name="t")
    assert s.str.cat() == w.str.cat()
    assert s.str.cat(sep="-") == w.str.cat(sep="-")


def test_pivot_table_margins_name_conflict_raises(spark):
    """A pivot value equal to margins_name must raise upfront like pandas,
    not die with an ambiguous-column AnalysisException mid-plan."""
    raw = {"seg": ["x", "y"], "reg": ["All", "a"], "v": [1.0, 2.0]}
    pf = DataFrame(raw, spark=spark)
    with pytest.raises(ValueError, match="conflicts"):
        pf.pivot_table(index="seg", columns="reg", values="v", margins=True)
    # an INDEX value equal to margins_name would silently union a second
    # 'All' row next to the totals row; pandas raises for this too
    raw2 = {"seg": ["All", "y"], "reg": ["a", "b"], "v": [1.0, 2.0]}
    pf2 = DataFrame(raw2, spark=spark)
    with pytest.raises(ValueError, match="conflicts"):
        pf2.pivot_table(index="seg", columns="reg", values="v", margins=True)


def test_reset_index_boundary_paths_at_size(spark):
    """Boundary-literal enumeration exercises every key shape at a size
    where the sample actually yields split points: plain index, struct
    MultiIndex (per-field atoms — Spark has no struct literals), and a
    descending order_spec. Enumeration must be exactly 0..n-1 in frame
    order every time."""
    from pyspark.sql import functions as F

    from pontem_spark.core import from_spark

    n = 30_000
    big = from_spark(
        spark.range(n).select(
            (F.col("id") % 50).alias("g"), (F.col("id") % 7).alias("h"),
            F.col("id").alias("v"),
        )
    )
    flat = big.set_index("v").reset_index().to_pandas()
    assert sorted(flat.index.tolist()) == list(range(n))
    assert flat.sort_index()["v"].is_monotonic_increasing

    midx = big.set_index(["g", "h"]).reset_index().to_pandas()
    assert sorted(midx.index.tolist()) == list(range(n))
    # r10: set_index PRESERVES row order like pandas (previously the new
    # index became the sort key) — the enumeration follows the ORIGINAL
    # id order, so g/h replay their modular sequences
    ordered = midx.sort_index()[["g", "h"]].reset_index(drop=True)
    assert ordered["g"].tolist() == [i % 50 for i in range(n)]
    assert ordered["h"].tolist() == [i % 7 for i in range(n)]

    desc = big.sort_values("v", ascending=False).reset_index(drop=True).to_pandas()
    assert desc.sort_index()["v"].iloc[0] == n - 1
    assert desc.sort_index()["v"].is_monotonic_decreasing


def test_reset_index_nulls_and_desc(spark):
    """Null keys under every direction: missing goes LAST in BOTH
    directions (pandas na_position='last' default — until r7 the asc path
    leaked Spark's native nulls-FIRST placement, which this test had
    codified), multi-column sorts with nulls in a non-first key neither
    crash the driver-side boundary sort nor mis-bucket, and repeated
    materializations of one lazy reset_index result agree (content-hash
    tie-break)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pontem_spark.core import from_spark

    n = 20_000
    sdf = spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 97 == 0, None).otherwise(F.col("id") % 50).alias("v"),
        (F.col("id") % 5).alias("g"),
    )
    big = from_spark(sdf)

    desc = big.sort_values("v", ascending=False).reset_index(drop=True).to_pandas()
    ordered = desc.sort_index()["v"]
    n_null = ordered.isna().sum()
    assert n_null > 0
    assert ordered.iloc[-n_null:].isna().all(), "desc must place nulls last"
    assert ordered.iloc[: n - n_null].is_monotonic_decreasing

    multi = big.sort_values(["g", "v"]).reset_index(drop=True).to_pandas()
    mo = multi.sort_index()[["g", "v"]].reset_index(drop=True)
    want = mo.sort_values(["g", "v"], kind="stable", na_position="last").reset_index(drop=True)
    pd.testing.assert_frame_equal(mo, want)

    # lazy-plan stability: same row -> same index on every materialization
    r = big.sort_values("v").reset_index(drop=False)
    a = r.to_pandas().sort_values("k").set_index("k")
    b = r.to_pandas().sort_values("k").set_index("k")
    assert a.index.equals(b.index)
    assert (a.reset_index().set_index("k").index == b.reset_index().set_index("k").index).all()
    pd.testing.assert_frame_equal(a, b)


def test_frame_iloc_slices_match_pandas(spark, pf, wf):
    """DataFrame.iloc positional slices — incl. negative steps and chained
    composition — must match pandas row-for-row."""
    for key in (slice(1, 4), slice(None, None, 2), slice(None, None, -1),
                slice(4, 0, -2), slice(-3, None), slice(None, -2)):
        got = pf.iloc[key].to_pandas()
        want = wf.iloc[key]
        pd.testing.assert_frame_equal(
            got.sort_index(), want.sort_index(), check_names=False
        )
    # visible-order composition: reversed then head-sliced
    got = pf.iloc[::-1].iloc[:2].to_pandas()
    want = wf.iloc[::-1].iloc[:2]
    assert sorted(got.index) == sorted(want.index)
    assert got.loc[want.index[0], "a"] == want.iloc[0]["a"]


def test_frame_iloc_int_list_and_cols(spark, pf, wf):
    """Scalar row (pandas Series), integer-list take, and (rows, cols)
     2-tuples over column positions."""
    row = pf.iloc[1]
    wrow = wf.iloc[1]
    assert list(row.index) == list(wrow.index)
    assert row["a"] == wrow["a"] and row["seg"] == wrow["seg"]
    row_neg = pf.iloc[-1]
    assert row_neg["a"] == wf.iloc[-1]["a"]
    took = pf.iloc[[0, 2, -1]].to_pandas()
    wtook = wf.iloc[[0, 2, -1]]
    pd.testing.assert_frame_equal(
        took.sort_index(), wtook.sort_index(), check_names=False
    )
    # (rows, cols)
    sub = pf.iloc[1:4, [0, 2]].to_pandas()
    wsub = wf.iloc[1:4, [0, 2]]
    pd.testing.assert_frame_equal(sub.sort_index(), wsub.sort_index(), check_names=False)
    col = pf.iloc[:, 1]
    assert col.to_pandas().sort_index().tolist() == wf.iloc[:, 1].tolist()
    scalar = pf.iloc[2, 0]
    assert scalar == wf.iloc[2, 0]
    with pytest.raises(IndexError):
        pf.iloc[99]
    with pytest.raises(TypeError):
        pf.iloc[True]


def test_frame_iloc_multiindex(spark):
    """iloc over a struct-backed MultiIndex frame: positions follow the
    frame's VISIBLE order — after r10's set_index fix that is the
    PRESERVED insertion order, exactly pandas (the pre-r10 index-sorted
    deviation is gone)."""
    raw = {"k1": ["a", "a", "b", "b"], "k2": [2, 1, 2, 1], "v": [1.0, 2.0, 3.0, 4.0]}
    pf = DataFrame(raw, spark=spark).set_index(["k1", "k2"])
    wf = pd.DataFrame(raw).set_index(["k1", "k2"])
    got = pf.iloc[1:3].to_pandas()
    want = wf.iloc[1:3]
    pd.testing.assert_frame_equal(got, want, check_names=False)
    rev = pf.iloc[::-1].to_pandas()
    wrev = wf.iloc[::-1]
    assert rev.index.tolist() == wrev.index.tolist()
    assert rev["v"].tolist() == wrev["v"].tolist()


def test_crosstab_matches_pandas(spark, sf_dir):
    import pandas as pd

    from pontem_spark.core import from_spark
    from pontem_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sources = sorted(r["source"] for r in docs.select("source").distinct().collect())
    got = (
        from_spark(docs)
        .crosstab("lang", "source", column_values=sources)
        .to_spark(index_col="lang")
        .toPandas()
        .set_index("lang")
        .sort_index()[sources]
    )
    pdf = docs.select("lang", "source").toPandas()
    want = pd.crosstab(pdf["lang"], pdf["source"]).reindex(columns=sources, fill_value=0)
    assert (got.values == want.sort_index().values).all()
    assert list(got.index) == list(want.sort_index().index)


def test_quantile_bins_properties(spark, sf_dir):
    """qcut invariants: buckets partition the rows near-equally, and bucket
    ids are monotone in the binned value (no interleaving across the
    boundary)."""
    from pontem_spark.operators.binning import quantile_bins
    from pontem_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = quantile_bins(orders, "o_totalprice", q=4).toPandas()
    n = len(out)
    sizes = out.groupby("bucket").size()
    assert sorted(sizes.index) == [0, 1, 2, 3]
    assert (abs(sizes - n / 4) / (n / 4) < 0.02).all(), sizes.to_dict()
    by_bucket = out.groupby("bucket")["o_totalprice"]
    maxes, mins = by_bucket.max(), by_bucket.min()
    for b in range(3):
        assert maxes[b] <= mins[b + 1]


def test_groupby_rolling_matches_pandas(spark, sf_dir):
    """groupby(k)[col].rolling(n).mean()/sum() — partitioned windows within
    each group, NaN until n observations, matching pandas exactly."""
    import numpy as np

    from pontem_spark.core import from_spark
    from pontem_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
        .limit(500)
    )
    pdf = ev.toPandas().sort_values("event_id").reset_index(drop=True)
    df = from_spark(ev, index_col="event_id")
    got = (
        df.groupby("user_id")["value"].rolling(3).mean().to_pandas().sort_index()
    )
    want = (
        pdf.set_index("event_id")
        .groupby("user_id")["value"]
        .rolling(3)
        .mean()
        .reset_index(level=0, drop=True)
        .sort_index()
    )
    assert np.allclose(got.fillna(-1).values, want.fillna(-1).values)
    got_s = df.groupby("user_id")["value"].rolling(2).sum().to_pandas().sort_index()
    want_s = (
        pdf.set_index("event_id")
        .groupby("user_id")["value"]
        .rolling(2)
        .sum()
        .reset_index(level=0, drop=True)
        .sort_index()
    )
    assert np.allclose(got_s.fillna(-1).values, want_s.fillna(-1).values)


def test_rowwise_reductions_match_pandas(spark):
    """axis=1 sum/mean/min/max with nulls — pandas skipna semantics,
    computed map-side over the same anchor (no shuffle)."""
    import numpy as np
    import pandas as pd

    from pontem_spark.core import from_spark

    pdf = pd.DataFrame(
        {
            "a": [1.0, np.nan, 3.0, np.nan],
            "b": [10.0, 20.0, np.nan, np.nan],
            "c": [100, 200, 300, 400],
            "s": ["x", "y", "z", "w"],  # non-numeric: excluded like pandas numeric_only
        }
    )
    df = from_spark(spark.createDataFrame(pdf))
    num = pdf[["a", "b", "c"]]
    for how in ("sum", "mean", "min", "max"):
        got = getattr(df, how)(axis=1).to_pandas().reset_index(drop=True)
        want = getattr(num, how)(axis=1).reset_index(drop=True)
        pd.testing.assert_series_equal(
            got.astype("float64"), want.astype("float64"), check_names=False
        )
    # axis=0 unchanged (the core/reductions.py sum of every selected
    # column, so project like pandas numeric_only first)
    assert df[["a", "b", "c"]].sum()["c"] == 1000


def test_cov_matrix(pf, wf):
    got = pf.cov()
    want = wf[["a", "b"]].cov()
    np.testing.assert_allclose(got.values, want.values, atol=1e-12)
    assert got.columns.tolist() == want.columns.tolist()
    # population covariance (ddof=0)
    got0 = pf.cov(ddof=0)
    want0 = wf[["a", "b"]].cov(ddof=0)
    np.testing.assert_allclose(got0.values, want0.values, atol=1e-12)
    with pytest.raises(ValueError):
        pf.cov(ddof=2)


# --- r7 probe-then-pin: frame NaN-missing parity --------------------------------

def _nan_eq(g, w):
    import math
    gn = g is None or (isinstance(g, float) and math.isnan(g))
    wn = isinstance(w, float) and math.isnan(w)
    return gn == wn and (wn or g == w or (isinstance(w, float) and abs(g - w) <= 1e-9))


def test_frame_reductions_skip_nan(spark):
    """Frame twin of the Series finding: sum/mean/min/max/count must skip
    NaN like NULL (pandas skipna), and sum/mean restrict to numeric
    columns instead of ANSI-throwing on strings."""
    import pandas as pd

    nan = float("nan")
    pdf = pd.DataFrame({"a": [1.0, nan, 3.0, nan], "b": [nan, nan, 30.0, 4.0], "c": ["x", "y", None, "x"]})
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    for m in ("sum", "mean"):
        g, w = getattr(f, m)(), getattr(pdf[["a", "b"]], m)()
        for c in ("a", "b"):
            assert _nan_eq(g[c], w[c]), (m, c, g[c], w[c])
        assert "c" not in g.index  # numeric_only, no ANSI throw
    g = f.count()
    w = pdf.count()
    assert all(g[c] == w[c] for c in ("a", "b", "c"))
    for m in ("sum", "mean", "min", "max"):
        gr = getattr(f, m)(axis=1).to_pandas().reset_index(drop=True)
        wr = getattr(pdf[["a", "b"]], m)(axis=1).reset_index(drop=True)
        assert all(_nan_eq(a, b) for a, b in zip(gr.tolist(), wr.tolist())), m


def test_frame_dropna_fillna_nan_aware(spark):
    import pandas as pd

    nan = float("nan")
    pdf = pd.DataFrame({"a": [1.0, nan, 3.0, nan], "b": [nan, nan, 30.0, 4.0], "c": ["x", "y", None, "x"]})
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    assert len(f.dropna().to_pandas()) == len(pdf.dropna())
    assert len(f.dropna(how="all", subset=["a", "b"]).to_pandas()) == len(
        pdf.dropna(how="all", subset=["a", "b"])
    )
    with pytest.raises(ValueError, match="how"):
        f.dropna(how="bogus")
    g = f.fillna(0.0).to_pandas().reset_index(drop=True)
    w = pdf.fillna(0.0).reset_index(drop=True)
    assert g["a"].tolist() == w["a"].tolist()
    assert g["b"].tolist() == w["b"].tolist()
    # string column passes through untouched (Spark can't mix dtypes —
    # documented divergence from pandas' object-column mixing)
    assert g["c"].tolist()[2] is None


def test_frame_duplicated_keep_variants(spark):
    import pandas as pd

    pdd = pd.DataFrame({"k": [1, 1, 2, 2, 3], "v": ["a", "a", "b", "c", "d"]})
    f = DataFrame(pdd.to_dict("list"), spark=spark)
    for keep in ("first", "last", False):
        got = f.duplicated(subset=["k", "v"], keep=keep).to_pandas().reset_index(drop=True)
        want = pdd.duplicated(subset=["k", "v"], keep=keep).reset_index(drop=True)
        assert got.tolist() == want.tolist(), keep


def test_series_ffill_bfill(spark):
    import pandas as pd

    nan = float("nan")
    data = [nan, 1.0, nan, nan, 4.0, nan]
    sn, pn = Series(data, spark=spark), pd.Series(data)
    for m in ("ffill", "bfill"):
        g = getattr(sn, m)().to_pandas().reset_index(drop=True)
        w = getattr(pn, m)().reset_index(drop=True)
        assert all(_nan_eq(a, b) for a, b in zip(g.tolist(), w.tolist())), m


def test_groupby_skipna_and_series_shape(spark):
    """Grouped aggregates and transform skip NaN like pandas (r7 probe:
    transform('mean') returned all-NaN on a NaN-bearing group), and
    df.groupby(k)[col].<agg>() returns a SERIES keyed by the group — the
    pandas shape."""
    import math

    nan = float("nan")
    pdf = pd.DataFrame({"k": ["a", "a", "b", "b", "b"], "v": [1.0, nan, 3.0, nan, 5.0]})
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    for how in ("sum", "mean", "min", "max", "count", "std", "var", "median"):
        got = getattr(f.groupby("k")["v"], how)().to_pandas().sort_index()
        want = getattr(pdf.groupby("k")["v"], how)().sort_index()
        assert isinstance(got, pd.Series)
        for k in want.index:
            a, b = got[k], want[k]
            bn = isinstance(b, float) and math.isnan(b)
            an = a is None or (isinstance(a, float) and math.isnan(a))
            assert bn == an and (bn or abs(a - b) <= 1e-9), (how, k, a, b)
    got_t = f.groupby("k")["v"].transform("mean").to_pandas().reset_index(drop=True)
    want_t = pdf.groupby("k")["v"].transform("mean").reset_index(drop=True)
    assert all(abs(a - b) <= 1e-9 for a, b in zip(got_t.tolist(), want_t.tolist()))


def test_grouped_ewm_matches_pandas(spark):
    """Per-key EWM (the bounded-group 100 TB shape of Series.ewm): exact
    pandas parity per group, NaN handling included."""
    import math

    nan = float("nan")
    pdf = pd.DataFrame({"k": ["a", "a", "a", "b", "b"], "v": [1.0, nan, 3.0, 10.0, 20.0]})
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    for kw in (dict(alpha=0.4), dict(span=3, adjust=False), dict(com=1.0, ignore_na=True)):
        for op in ("mean", "std"):
            got = getattr(f.groupby("k")["v"].ewm(**kw), op)().to_pandas().sort_index()
            want = (
                getattr(pdf.groupby("k")["v"].ewm(**kw), op)()
                .reset_index(level=0, drop=True)
                .sort_index()
            )
            for a, b in zip(got.tolist(), want.tolist()):
                bn = isinstance(b, float) and math.isnan(b)
                an = a is None or (isinstance(a, float) and math.isnan(a))
                assert bn == an and (bn or abs(a - b) <= 1e-12), (kw, op)


def test_frame_sort_dropdup_astype_parity(spark):
    """r7 frame probe round: sort_values grows per-column ascending +
    na_position (missing stays at the chosen end in BOTH directions);
    drop_duplicates picks its survivor BY INDEX like pandas ('first' /
    'last' / False) instead of Spark dropDuplicates' arbitrary
    partition-race winner; astype takes a single dtype or per-column
    mapping as a pure Projection."""
    import math

    nan = float("nan")
    pdf = pd.DataFrame({"a": [3.0, nan, 1.0, 2.0, 1.0], "b": ["x", "y", "z", "x", "z"]})
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    for asc in (True, False):
        for na in ("last", "first"):
            got = f.sort_values("a", ascending=asc, na_position=na).to_pandas()["a"].tolist()
            want = pdf.sort_values("a", ascending=asc, na_position=na)["a"].tolist()
            assert all(
                (isinstance(x, float) and math.isnan(x) and isinstance(y, float) and math.isnan(y))
                or x == y
                for x, y in zip(got, want)
            ), (asc, na)
    got = f.sort_values(["b", "a"], ascending=[True, False]).to_pandas()["b"].tolist()
    want = pdf.sort_values(["b", "a"], ascending=[True, False])["b"].tolist()
    assert got == want
    with pytest.raises(ValueError, match="na_position"):
        f.sort_values("a", na_position="bogus")

    pdd = pd.DataFrame({"k": [1, 1, 2, 2, 3], "v": [10, 11, 20, 20, 30]})
    fd = DataFrame(pdd.to_dict("list"), spark=spark)
    for keep in ("first", "last", False):
        got = fd.drop_duplicates(subset=["k"], keep=keep).to_pandas().sort_index()["v"].tolist()
        want = pdd.drop_duplicates(subset=["k"], keep=keep)["v"].tolist()
        assert got == want, keep

    assert fd.astype({"k": "float64"}).dtypes.tolist()[0] == "double"
    assert fd.astype("str").to_pandas()["v"].tolist() == pdd.astype("str")["v"].tolist()
    with pytest.raises(KeyError):
        fd.astype({"zzz": "int"})


def _assert_frame_close(got, want, msg=""):
    import math

    assert list(got.columns) == list(want.columns), (msg, got.columns, want.columns)
    assert len(got) == len(want), (msg, len(got), len(want))
    for c in want.columns:
        for g, w in zip(got[c].tolist(), want[c].tolist()):
            gn = g is None or (isinstance(g, float) and math.isnan(g))
            wn = w is None or (isinstance(w, float) and math.isnan(w))
            assert gn == wn, (msg, c, g, w)
            if not wn:
                if isinstance(w, float):
                    assert g == w or abs(g - w) <= 1e-9, (msg, c, g, w)
                else:
                    assert g == w, (msg, c, g, w)


def test_frame_elementwise_parity(spark):
    """r7 batch: isna/notna (NULL or NaN both missing), abs/round
    (half-to-even like numpy), clip (NaN bounds no-op, missing stays
    missing) — all pure projections against pandas."""
    nan = float("nan")
    pdf = pd.DataFrame(
        {"a": [1.5, -2.5, nan, 0.5], "b": [-3.0, 4.0, 5.0, nan], "s": ["x", None, "y", "z"]}
    )
    f = DataFrame(pdf.to_dict("list"), spark=spark)

    _assert_frame_close(f.isna().to_pandas(), pdf.isna(), "isna")
    _assert_frame_close(f.notna().to_pandas(), pdf.notna(), "notna")

    num = pdf[["a", "b"]]
    fn = DataFrame(num.to_dict("list"), spark=spark)
    _assert_frame_close(fn.abs().to_pandas(), num.abs(), "abs")
    with pytest.raises(TypeError):
        f.abs()

    _assert_frame_close(f.round().to_pandas(), pdf.round(), "round half-even")
    _assert_frame_close(f.round({"a": 0}).to_pandas(), pdf.round({"a": 0}), "round dict")

    _assert_frame_close(f.clip(-1, 2).to_pandas()[["a", "b"]], num.clip(-1, 2), "clip")
    _assert_frame_close(f.clip(lower=nan, upper=2).to_pandas()[["a", "b"]], num.clip(upper=2), "clip nan bound")
    _assert_frame_close(f.clip(2, -1).to_pandas()[["a", "b"]], num.clip(-1, 2), "clip inverted")


def test_frame_window_parity(spark):
    """r7 batch: shift/diff/pct_change/cumsum/cummax/cummin over the visible
    order, incl. after sort_values (pandas shifts in DISPLAYED order)."""
    nan = float("nan")
    pdf = pd.DataFrame({"a": [3.0, nan, 1.0, 4.0, 1.0], "b": [1.0, 2.0, nan, 0.0, 5.0]})
    f = DataFrame(pdf.to_dict("list"), spark=spark)

    for p in (1, 2, -1):
        _assert_frame_close(f.shift(p).to_pandas(), pdf.shift(p), f"shift {p}")
        _assert_frame_close(f.diff(p).to_pandas(), pdf.diff(p), f"diff {p}")
    # oracle: explicit warning-free pad form (pandas 3 drops the pad
    # default; the engine keeps fill_method='pad' as ITS documented default)
    _assert_frame_close(
        f.pct_change().to_pandas(),
        pdf.ffill().pct_change(fill_method=None),
        "pct_change pad",
    )
    _assert_frame_close(
        f.pct_change(fill_method=None).to_pandas(),
        pdf.pct_change(fill_method=None),
        "pct_change none",
    )
    _assert_frame_close(f.cumsum().to_pandas(), pdf.cumsum(), "cumsum")
    _assert_frame_close(f.cummax().to_pandas(), pdf.cummax(), "cummax")
    _assert_frame_close(f.cummin().to_pandas(), pdf.cummin(), "cummin")

    # visible order: shift after sort_values follows the SORTED order
    fs = f.sort_values("b")
    ps = pdf.sort_values("b", na_position="last")
    _assert_frame_close(fs.shift().to_pandas(), ps.shift(), "shift sorted")

    with pytest.raises(TypeError):
        DataFrame({"s": ["x", "y"]}, spark=spark).diff()


def test_frame_rank_parity(spark):
    nan = float("nan")
    pdf = pd.DataFrame(
        {"a": [3.0, 1.0, 1.0, nan, 2.0, 3.0], "b": [10.0, 10.0, 5.0, 7.0, nan, 7.0]}
    )
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    for method in ("average", "min", "max", "dense", "first"):
        for asc in (True, False):
            for pct in (False, True):
                got = f.rank(method=method, ascending=asc, pct=pct).to_pandas()
                want = pdf.rank(method=method, ascending=asc, pct=pct)
                _assert_frame_close(got, want, f"rank {method} asc={asc} pct={pct}")
    with pytest.raises(ValueError):
        f.rank(method="bogus")


def test_frame_reduction_parity(spark):
    nan = float("nan")
    pdf = pd.DataFrame(
        {"a": [3.0, 1.0, nan, 2.0, 2.0], "b": [1.0, 5.0, 4.0, nan, 0.0], "s": list("vwxyz")}
    )
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    num = pdf[["a", "b"]]

    for q in (0.25, 0.5, 0.9):
        got, want = f.quantile(q), num.quantile(q)
        assert all(abs(got[c] - want[c]) <= 1e-9 for c in ("a", "b")), q
    assert all(abs(f.median()[c] - num.median()[c]) <= 1e-9 for c in ("a", "b"))
    for ddof in (0, 1, 2):
        gs, ws = f.std(ddof=ddof), num.std(ddof=ddof)
        gv, wv = f.var(ddof=ddof), num.var(ddof=ddof)
        assert all(abs(gs[c] - ws[c]) <= 1e-9 for c in ("a", "b")), ddof
        assert all(abs(gv[c] - wv[c]) <= 1e-9 for c in ("a", "b")), ddof

    assert f.idxmax().to_dict() == num.idxmax().to_dict()
    assert f.idxmin().to_dict() == num.idxmin().to_dict()
    with pytest.raises(ValueError):
        DataFrame({"a": [nan, nan]}, spark=spark).idxmax()
    # ties go to the earlier row, not the smaller label
    tied = {"a": [3.0, 1.0, 3.0, 1.0], "b": [2.0, 0.0, 0.0, 2.0]}
    ft, pt = DataFrame(tied, index=[2, 1, 0, 3], spark=spark), pd.DataFrame(tied, index=[2, 1, 0, 3])
    assert ft.idxmax().to_dict() == pt.idxmax().to_dict()
    assert ft.idxmin().to_dict() == pt.idxmin().to_dict()


def test_concat_and_merge_after_sort(spark):
    """Combiners must not leak sort helper columns (__miss_*__): concat of
    a sorted and an unsorted frame unions cleanly; merge of sorted frames
    exposes only user columns."""
    pdf1 = pd.DataFrame({"k": [1, 2, 3], "v": [10.0, 30.0, 20.0]})
    pdf2 = pd.DataFrame({"k": [4, 5], "v": [50.0, 40.0]})
    f1 = DataFrame(pdf1.to_dict("list"), spark=spark).sort_values("v")
    f2 = DataFrame(pdf2.to_dict("list"), spark=spark)
    out = concat([f1, f2]).to_pandas()
    assert sorted(out.columns) == ["k", "v"]
    assert sorted(out["k"].tolist()) == [1, 2, 3, 4, 5]

    m = f1.merge(f2.sort_values("k"), on="k", how="outer").to_pandas()
    assert sorted(m.columns) == ["k", "v_x", "v_y"]
    assert len(m) == 5
    assert f1.dtypes.index.tolist() == ["k", "v"]


def test_cut_equal_width_parity(spark):
    """equal_width_bins == pandas.cut(labels=False, right=True) for integer
    bins (edges from min/max) and explicit edges (out-of-range → missing)."""
    import numpy as np

    from pontem_spark.operators.binning import equal_width_bins

    rng = np.random.RandomState(7)
    vals = np.round(rng.uniform(-50, 150, 400), 3).tolist() + [float("nan"), -50.0, 150.0]
    pdf = pd.DataFrame({"v": vals})
    sdf = spark.createDataFrame(pdf)

    for bins in (1, 4, 10):
        got = (
            equal_width_bins(sdf, "v", bins=bins)
            .toPandas()
            .sort_values("v")
            .reset_index(drop=True)
        )
        want = pdf.sort_values("v").reset_index(drop=True)
        want["bucket"] = pd.cut(want["v"], bins=bins, labels=False, right=True)
        got_b = got["bucket"].astype("float64")
        want_b = want["bucket"].astype("float64")
        assert got_b.fillna(-1).tolist() == want_b.fillna(-1).tolist(), bins

    edges = [0.0, 25.0, 50.0, 100.0]
    got = (
        equal_width_bins(sdf, "v", bins=edges)
        .toPandas()
        .sort_values("v")
        .reset_index(drop=True)
    )
    want = pdf.sort_values("v").reset_index(drop=True)
    want["bucket"] = pd.cut(want["v"], bins=edges, labels=False, right=True)
    assert (
        got["bucket"].astype("float64").fillna(-1).tolist()
        == want["bucket"].astype("float64").fillna(-1).tolist()
    )

    with pytest.raises(ValueError):
        equal_width_bins(sdf, "v", bins=0)
    with pytest.raises(ValueError):
        equal_width_bins(sdf, "v", bins=[1.0])


def test_cut_oracle_twin(spark, duck):
    """Spark equal_width_bins hash-matches its DuckDB oracle twin at the
    smoke SF (the pending-query discipline: oracle proven before any
    registration)."""
    from pontem_spark.operators.binning import equal_width_bins, equal_width_bins_oracle_sql
    from pontem_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders")
    got = (
        equal_width_bins(orders.select("o_orderkey", "o_totalprice"), "o_totalprice", bins=8)
        .select("o_orderkey", "bucket")
        .toPandas()
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    cte, bucket = equal_width_bins_oracle_sql("orders", "o_totalprice", bins=8)
    want = duck.execute(
        f"WITH {cte} SELECT o_orderkey, {bucket} AS bucket FROM orders, edges ORDER BY o_orderkey"
    ).fetchdf()
    assert got["bucket"].tolist() == want["bucket"].tolist()


def test_get_dummies_parity(spark):
    from pontem_spark.core import get_dummies

    pdf = pd.DataFrame(
        {"k": [1, 2, 3, 4], "cat": ["b", "a", None, "b"], "oth": ["x", "y", "x", "z"]}
    )
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    got = get_dummies(f, "cat").to_pandas()
    want = pd.get_dummies(pdf, columns=["cat"], prefix_sep="_", dtype="int64")
    # pandas appends dummy columns at the end; ours replace in place — compare by name
    assert sorted(got.columns) == sorted(want.columns)
    for c in want.columns:
        assert got[c].tolist() == want[c].tolist(), c

    both = get_dummies(f, ["cat", "oth"]).to_pandas()
    wboth = pd.get_dummies(pdf, columns=["cat", "oth"], prefix_sep="_", dtype="int64")
    assert sorted(both.columns) == sorted(wboth.columns)
    for c in wboth.columns:
        assert both[c].tolist() == wboth[c].tolist(), c

    with pytest.raises(KeyError):
        get_dummies(f, "zzz")
    with pytest.raises(ValueError, match="distinct"):
        get_dummies(f, "k", max_categories=2)


def test_probe_pins_round8(spark):
    """r8 probe batch over the r7 parity surface (r7 verdict task 8):
    (1) SeriesGroupBy has prod/sem/skew/kurt (the core/reductions.py
    entries GroupBy.agg applies; the per-column path once raised
    AttributeError); (2) grouped
    idxmax/idxmin keep an all-NaN group as a NULL row like pandas 2.x
    instead of dropping the group."""
    import math

    nan = float("nan")
    pdf = pd.DataFrame({
        "k": ["a", "a", "b", "b", "b", "c", "d", "d"],
        "v": [1.0, nan, 3.0, 3.0, 5.0, 7.0, nan, nan],
    })
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    sg, psg = f.groupby("k")["v"], pdf.groupby("k")["v"]

    for how in ("prod", "sem", "skew", "kurt"):
        got = getattr(sg, how)().to_pandas().sort_index()
        if how == "kurt":
            # pandas 2.2 groupby has no kurt — derive per group from the
            # Series method (the convention ours follows)
            want = psg.apply(lambda s: s.kurt()).sort_index()
        else:
            want = getattr(psg, how)().sort_index()
        assert list(got.index) == list(want.index), how
        for a, b in zip(got.tolist(), want.tolist()):
            an = a is None or (isinstance(a, float) and math.isnan(a))
            bn = isinstance(b, float) and math.isnan(b)
            assert an == bn and (an or abs(a - b) <= 1e-9), (how, a, b)

    for op in ("idxmax", "idxmin"):
        got = getattr(sg, op)().to_pandas().sort_index()
        want = getattr(psg, op)().sort_index()
        assert list(got.index) == ["a", "b", "c", "d"], op
        for k in want.index:
            b = want[k]
            a = got[k]
            bn = isinstance(b, float) and math.isnan(b)
            an = a is None or (isinstance(a, float) and math.isnan(a))
            assert an == bn and (an or int(a) == int(b)), (op, k, a, b)
    # on an unsorted index, ties go to the earlier row, not the smaller label
    tied = {"k": ["a", "a", "a", "b"], "v": [3.0, 1.0, 3.0, 1.0]}
    gt = DataFrame(tied, index=[2, 1, 0, 3], spark=spark).groupby("k")["v"]
    pt = pd.DataFrame(tied, index=[2, 1, 0, 3]).groupby("k")["v"]
    for op in ("idxmax", "idxmin"):
        got = getattr(gt, op)().to_pandas().sort_index()
        assert got.to_dict() == getattr(pt, op)().to_dict(), op


def test_probe_pins_round8b(spark):
    """r8 probe batch #2 (frame parity surfaces): corr/cov/corrwith drop
    NaN pairs pairwise instead of poisoning the statistic; replace takes
    the nested pandas {col: {old: new}} form; align aligns COLUMNS too
    (outer = sorted union, absent side all-missing); update rebinds self
    in place like pandas; droplevel/swaplevel/xs preserve row order
    instead of re-sorting by the remaining levels; apply accepts the
    named-reduction string form; interpolate grew limit=."""
    import math

    nan = float("nan")
    pdf = pd.DataFrame({
        "a": [1.0, nan, 3.0, 4.0, 5.0],
        "b": [10.0, 20.0, nan, 40.0, 50.0],
        "c": ["x", "y", "x", "z", "y"],
    })
    f = DataFrame(pdf.to_dict("list"), spark=spark)

    # corrwith / corr / cov pairwise NaN deletion
    got = pd.Series(f[["a", "b"]].corrwith(f[["a", "b"]]))
    want = pdf[["a", "b"]].corrwith(pdf[["a", "b"]])
    for c in ("a", "b"):
        assert abs(got[c] - want[c]) <= 1e-9, c
    gc, wc = f[["a", "b"]].corr(), pdf[["a", "b"]].corr()
    assert abs(gc.loc["a", "b"] - wc.loc["a", "b"]) <= 1e-9
    gv, wv = f[["a", "b"]].cov(), pdf[["a", "b"]].cov()
    assert abs(gv.loc["a", "b"] - wv.loc["a", "b"]) <= 1e-9

    # nested replace
    got = f.replace({"c": {"x": "X"}}).to_pandas()["c"].tolist()
    assert got == pdf.replace({"c": {"x": "X"}})["c"].tolist()
    with pytest.raises(KeyError):
        f.replace({"zzz": {"x": "X"}})

    # align columns
    la, ra = f[["a"]].align(f[["b"]], join="outer")
    pla, pra = pdf[["a"]].align(pdf[["b"]], join="outer")
    assert la.columns == pla.columns.tolist() == ["a", "b"]
    assert ra.columns == pra.columns.tolist()
    assert la.to_pandas()["b"].isna().all()

    # update in place, returning None exactly like pandas (r9: the r8
    # hybrid return-self silently aliased value-style call sites)
    ff = DataFrame(pdf[["a"]].to_dict("list"), spark=spark)
    pp = pdf[["a"]].copy()
    upd = pd.DataFrame({"a": [nan, 200.0, nan, nan, 500.0]})
    ret = ff.update(DataFrame(upd.to_dict("list"), spark=spark))
    pp.update(upd)
    assert ret is None
    got = ff.to_pandas().sort_index()["a"].tolist()
    for g, w in zip(got, pp["a"].tolist()):
        assert (math.isnan(g) if isinstance(g, float) and math.isnan(w) else g == w)

    # MultiIndex level ops preserve row order
    pm = pd.DataFrame({
        "g": ["a", "a", "b", "b"], "h": ["p", "q", "p", "q"],
        "v": [1.0, 2.0, 3.0, nan],
    })
    fm = DataFrame(pm.to_dict("list"), spark=spark).set_index(["g", "h"])
    pmi = pm.set_index(["g", "h"])
    got = fm.droplevel(0).to_pandas()["v"].tolist()
    want = pmi.droplevel(0)["v"].tolist()
    assert all(
        (isinstance(g, float) and math.isnan(g) and math.isnan(w)) or g == w
        for g, w in zip(got, want)
    )
    assert fm.swaplevel().to_pandas().index.names == ["h", "g"]

    # apply("sum") named-reduction form, both axes
    got = f[["a", "b"]].apply("sum")
    want = pdf[["a", "b"]].apply("sum")
    assert abs(got["a"] - want["a"]) <= 1e-9 and abs(got["b"] - want["b"]) <= 1e-9
    got = f[["a", "b"]].apply("sum", axis=1).to_pandas().sort_index().tolist()
    want = pdf[["a", "b"]].apply("sum", axis=1).tolist()
    assert all(abs(g - w) <= 1e-9 for g, w in zip(got, want))

    # interpolate(limit=)
    got = f[["a", "b"]].interpolate(limit=1).to_pandas().sort_index()["a"].tolist()
    want = pdf[["a", "b"]].interpolate(limit=1)["a"].tolist()
    assert all(
        (isinstance(g, float) and math.isnan(g) and math.isnan(w)) or abs(g - w) <= 1e-9
        for g, w in zip(got, want)
    )
    with pytest.raises(ValueError, match="limit"):
        f[["a"]].interpolate(limit=0)


def test_probe_pins_round8_grouped_stats(spark):
    """r8 probe: grouped sem on a single-row group hit ANSI DIVIDE_BY_ZERO
    (Spark 4 throws even for doubles); zero-variance skew/kurt are 0.0
    like pandas (we returned NULL); Series-level skew/kurt on a constant
    series likewise."""
    import math

    nan = float("nan")
    pdf = pd.DataFrame({
        "k": ["a"] * 4 + ["b"] * 2 + ["c"],
        "v": [3.0, 3.0, 3.0, 3.0, 1.0, 2.0, 7.0],
    })
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    got_sem = f.groupby("k")["v"].sem().to_pandas().sort_index()
    want_sem = pdf.groupby("k")["v"].sem().sort_index()
    for k in want_sem.index:
        g, w = got_sem[k], want_sem[k]
        wn = isinstance(w, float) and math.isnan(w)
        gn = g is None or (isinstance(g, float) and math.isnan(g))
        assert gn == wn and (gn or abs(g - w) <= 1e-9), ("sem", k, g, w)
    got_skew = f.groupby("k")["v"].skew().to_pandas().sort_index()
    want_skew = pdf.groupby("k")["v"].skew().sort_index()
    for k in want_skew.index:
        g, w = got_skew[k], want_skew[k]
        wn = isinstance(w, float) and math.isnan(w)
        gn = g is None or (isinstance(g, float) and math.isnan(g))
        assert gn == wn and (gn or abs(g - w) <= 1e-9), ("skew", k, g, w)
    # zero-variance group kurt: pandas Series convention is 0.0 (pandas
    # 2.2 groupby has no kurt; ours follows the Series rule)
    got_kurt = f.groupby("k")["v"].kurt().to_pandas().sort_index()
    assert got_kurt["a"] == 0.0 and (got_kurt["b"] is None or math.isnan(got_kurt["b"]))

    from pontem_spark.core import Series

    assert Series([3.0, 3.0, 3.0], spark=spark).skew() == pd.Series([3.0, 3.0, 3.0]).skew() == 0.0
    assert Series([3.0] * 4, spark=spark).kurt() == pd.Series([3.0] * 4).kurt() == 0.0
    assert math.isnan(Series([5.0], spark=spark).sem())


def test_probe_pins_round8c(spark):
    """r8 probe batch #3 (merge/concat/pivot_table): concat outer-aligns
    columns and keeps STACKING order (not index order) via a lazy
    source-position spec; pivot_table blanks NaN before aggregating,
    tells absent cells (NULL) from present-all-NaN cells (sum -> 0.0,
    count -> 0), drops all-missing columns for mean-family aggfuncs
    (pandas dropna=True), and supports index-only margins; grouped sum
    of an all-missing group is 0 (pandas min_count=0), for agg and
    transform both."""
    import math

    nan = float("nan")

    # concat: column outer-alignment + stacking order
    from pontem_spark.core.frame import concat

    pc1 = pd.DataFrame({"v": [1.0, 2.0]})
    pc2 = pd.DataFrame({"v": [3.0, 4.0], "w": [5.0, 6.0]})
    got = concat([
        DataFrame(pc1.to_dict("list"), spark=spark),
        DataFrame(pc2.to_dict("list"), spark=spark),
    ]).to_pandas()
    want = pd.concat([pc1, pc2])
    assert got["v"].tolist() == want["v"].tolist() == [1.0, 2.0, 3.0, 4.0]
    gw, ww = got["w"].tolist(), want["w"].tolist()
    assert all((math.isnan(g) if isinstance(w, float) and math.isnan(w) else g == w)
               for g, w in zip(gw, ww))

    # pivot_table edge cells
    pp = pd.DataFrame({
        "r": ["a", "a", "a", "b", "b", "c"],
        "c": ["x", "x", "y", "x", "z", "y"],
        "v": [1.0, 3.0, 5.0, 7.0, nan, 11.0],
    })
    fp = DataFrame(pp.to_dict("list"), spark=spark)
    for aggfunc in ("mean", "sum", "count", "min", "max"):
        got = fp.pivot_table(index="r", columns="c", values="v",
                             aggfunc=aggfunc).to_pandas().sort_index()
        want = pp.pivot_table(index="r", columns="c", values="v", aggfunc=aggfunc)
        assert sorted(got.columns) == sorted(str(c) for c in want.columns), aggfunc
        for col in want.columns:
            for g, w in zip(got[str(col)].tolist(), want[col].tolist()):
                wn = isinstance(w, float) and math.isnan(w)
                gn = g is None or (isinstance(g, float) and math.isnan(g))
                assert gn == wn and (gn or abs(g - w) <= 1e-9), (aggfunc, col, g, w)

    # index-only margins: values match pandas (row position of 'All' is
    # the documented index-order deviation)
    got = sorted(fp.pivot_table(index="r", values="v", aggfunc="sum",
                                margins=True).to_pandas()["v"].tolist())
    want = sorted(pp.pivot_table(index="r", values="v", aggfunc="sum",
                                 margins=True)["v"].tolist())
    assert got == want

    # grouped sum min_count=0
    pg = pd.DataFrame({"k": ["a", "a", "d", "d"], "v": [1.0, 2.0, nan, nan]})
    fg = DataFrame(pg.to_dict("list"), spark=spark)
    assert fg.groupby("k")["v"].sum().to_pandas().sort_index().tolist() == [3.0, 0.0]
    assert (fg.groupby("k")["v"].transform("sum").to_pandas().sort_index().tolist()
            == pg.groupby("k")["v"].transform("sum").tolist())


def test_probe_pins_round7c(spark):
    """r7 probe batch: shift fill_value, quantile interpolation methods,
    rolling min_periods (NaN = missing), rolling count row-gate, query NaN
    comparisons, melt column-major order."""
    import math

    import numpy as np

    nan = float("nan")
    pdf = pd.DataFrame(
        {
            "f": [1.5, nan, -2.25, 0.0, 7.5, nan, 3.125, -0.5],
            "i": [3, 1, 4, 1, 5, 9, 2, 6],
            "s": ["b", None, "a", "b", "c", None, "a", "b"],
        }
    )
    d = DataFrame(pdf.to_dict("list"), spark=spark)

    def same(mine, want):
        m = mine.to_pandas().tolist()
        w = want.tolist()
        assert len(m) == len(w)
        for x, y in zip(m, w):
            x_nan = x is None or (isinstance(x, float) and math.isnan(x))
            y_nan = y is None or (isinstance(y, float) and math.isnan(y))
            assert x_nan == y_nan and (x_nan or x == y), (m, w)

    same(d["i"].shift(1, fill_value=0), pdf["i"].shift(1, fill_value=0))
    same(d["i"].shift(-2, fill_value=-1), pdf["i"].shift(-2, fill_value=-1))

    for interp in ("lower", "higher", "nearest", "midpoint", "linear"):
        for q in (0.0, 0.25, 0.3, 0.5, 0.77, 1.0):
            a = d["f"].quantile(q, interpolation=interp)
            b = pdf["f"].quantile(q, interpolation=interp)
            assert abs(float(a) - float(b)) < 1e-9, (interp, q, a, b)
    with pytest.raises(ValueError):
        d["f"].quantile(0.5, interpolation="bogus")

    same(d["f"].rolling(3, min_periods=1).sum(), pdf["f"].rolling(3, min_periods=1).sum())
    same(d["f"].rolling(3, min_periods=2).mean(), pdf["f"].rolling(3, min_periods=2).mean())
    same(d["f"].rolling(3).count(), pdf["f"].rolling(3).count())
    same(d["f"].rolling(3, min_periods=1).count(), pdf["f"].rolling(3, min_periods=1).count())

    # Spark orders NaN above everything; pandas query drops NaN rows on >
    got = d.query("f > 0 and i > 2").to_pandas().reset_index(drop=True)
    want = pdf.query("f > 0 and i > 2").reset_index(drop=True)
    assert got["i"].tolist() == want["i"].tolist()
    # ...and surviving rows keep their original NaN values in other columns
    gf = d.query("i > 2").to_pandas()["f"]
    wf = pdf.query("i > 2")["f"]
    assert np.isnan(gf.values).tolist() == np.isnan(wf.values).tolist()

    gm = d.melt(id_vars=["s"], value_vars=["f", "i"]).to_pandas().reset_index(drop=True)
    wm = pdf.melt(id_vars=["s"], value_vars=["f", "i"]).reset_index(drop=True)
    assert gm["variable"].tolist() == wm["variable"].tolist()
    for x, y in zip(gm["value"], wm["value"]):
        assert (isinstance(x, float) and math.isnan(x) and math.isnan(y)) or x == y


def test_probe_pins_round7d_groupby(spark):
    """r7 probe: grouped transform family (cumcount/shift/rank/cumsum/
    diff/pct_change/head/nth/filter/idxmax/agg-list), skipna first/last,
    index-only pivot_table."""
    import math

    nan = float("nan")
    pdf = pd.DataFrame(
        {
            "k": ["a", "b", "a", "b", "a", "c", "c", "a"],
            "f": [1.5, nan, -2.25, 0.0, 7.5, nan, 3.125, -0.5],
            "i": [3, 1, 4, 1, 5, 9, 2, 6],
        }
    )
    d = DataFrame(pdf.to_dict("list"), spark=spark)
    g = pdf.groupby("k")

    def same_vals(mine, want):
        m = mine.to_pandas().tolist()
        w = list(want)
        assert len(m) == len(w), (m, w)
        for x, y in zip(m, w):
            x_nan = x is None or (isinstance(x, float) and math.isnan(x))
            y_nan = y is None or (isinstance(y, float) and math.isnan(y))
            assert x_nan == y_nan and (x_nan or x == y), (m, w)

    same_vals(d.groupby("k").cumcount(), pdf.groupby("k").cumcount())
    same_vals(d.groupby("k")["f"].shift(1), g["f"].shift(1))
    same_vals(d.groupby("k")["i"].shift(-1, fill_value=0), g["i"].shift(-1, fill_value=0))
    same_vals(d.groupby("k")["f"].cumsum(), g["f"].cumsum())
    same_vals(d.groupby("k")["f"].diff(), g["f"].diff())
    same_vals(d.groupby("k")["i"].pct_change(), g["i"].pct_change())
    for method in ("average", "min", "max", "dense", "first"):
        same_vals(d.groupby("k")["f"].rank(method=method), g["f"].rank(method=method))
    same_vals(d.groupby("k")["f"].rank(pct=True), g["f"].rank(pct=True))
    # skipna first/last + idxmax/idxmin (sorted by group key)
    same_vals(d.groupby("k")["f"].first(), g["f"].first().sort_index())
    same_vals(d.groupby("k")["f"].last(), g["f"].last().sort_index())
    same_vals(d.groupby("k")["f"].idxmax(), g["f"].idxmax().sort_index())
    same_vals(d.groupby("k")["f"].idxmin(), g["f"].idxmin().sort_index())
    # positional subsets keep original row order
    assert d.groupby("k").head(2).to_pandas()["i"].tolist() == pdf.groupby("k").head(2)["i"].tolist()
    assert d.groupby("k").nth(1).to_pandas()["i"].tolist() == pdf.groupby("k").nth(1)["i"].tolist()
    assert d.groupby("k").tail(1).to_pandas()["i"].tolist() == pdf.groupby("k").tail(1)["i"].tolist()
    got = d.groupby("k").filter(lambda x: len(x) > 2).to_pandas()
    want = pdf.groupby("k").filter(lambda x: len(x) > 2)
    assert got["i"].tolist() == want["i"].tolist()
    # agg list → statistic-named columns
    ga = d.groupby("k")["f"].agg(["sum", "mean"]).to_pandas()
    wa = g["f"].agg(["sum", "mean"]).sort_index()
    assert list(ga.columns) == ["sum", "mean"]
    assert ga["sum"].tolist() == wa["sum"].tolist()
    # index-only pivot_table
    pm = d.pivot_table(index="k", values="f", aggfunc="mean").to_pandas()
    wm = pdf.pivot_table(index="k", values="f", aggfunc="mean")
    assert pm["f"].tolist() == wm["f"].tolist()


def test_probe_pins_round7d_merge_order(spark):
    """r7 probe: merge row order is pandas' — left/inner/right follow the
    driving frame's row order with right matches in right-row order;
    outer sorts by the key union."""
    import math

    nan = float("nan")
    pdf = pd.DataFrame(
        {
            "k": ["a", "b", "a", "b", "a", "c", "c", "a"],
            "f": [1.5, nan, -2.25, 0.0, 7.5, nan, 3.125, -0.5],
            "i": [3, 1, 4, 1, 5, 9, 2, 6],
        }
    )
    o = pd.DataFrame({"k": ["a", "b", "d"], "v": [10.0, 20.0, 30.0]})
    d = DataFrame(pdf.to_dict("list"), spark=spark)
    od = DataFrame(o.to_dict("list"), spark=spark)
    for how in ("inner", "left", "right", "outer"):
        mine = d.merge(od, on="k", how=how).to_pandas().reset_index(drop=True)
        want = pdf.merge(o, on="k", how=how).reset_index(drop=True)
        assert list(mine.columns) == list(want.columns), how
        for c in want.columns:
            for x, y in zip(mine[c], want[c]):
                x_nan = isinstance(x, float) and math.isnan(x)
                y_nan = isinstance(y, float) and math.isnan(y)
                assert x_nan == y_nan and (x_nan or x == y), (how, c)
    # self-merge: right matches enumerate in right-row order
    mine = d.merge(d, on="k", suffixes=("_l", "_r")).to_pandas()
    want = pdf.merge(pdf, on="k", suffixes=("_l", "_r"))
    assert mine["i_r"].tolist() == want["i_r"].tolist()


def test_probe_pins_round7f_groupby_extras(spark):
    """r7 probe batch: median/var/ngroup/describe/value_counts/expanding,
    and pandas dropna=True group-key parity (NaN-key groups excluded from
    aggregates, NaN for row-aligned ops, rows dropped by positional /
    rolling / expanding ops)."""
    import math

    import numpy as np
    import pandas as pd

    from pontem_spark.core import DataFrame

    nan = float("nan")
    pdf = pd.DataFrame(
        {
            "k": ["a", "b", "a", "c", "b", "a", None, "b"],
            "v": [3.0, 1.0, nan, 1.0, 5.0, 9.0, 2.0, 5.0],
            "w": [1, 2, 3, 4, 5, 6, 7, 8],
        }
    )
    d = DataFrame(
        {"k": pdf.k.tolist(), "v": pdf.v.tolist(), "w": pdf.w.tolist()}, spark=spark
    )

    def same(mine, want, sort=False):
        m = mine.to_pandas()
        if sort:
            m, want = m.sort_index(), want.sort_index()
        ml, wl = m.tolist(), want.tolist()
        assert len(ml) == len(wl), (ml, wl)
        for a, b in zip(ml, wl):
            an = a is None or (isinstance(a, float) and math.isnan(a))
            bn = b is None or (isinstance(b, float) and math.isnan(b))
            assert an == bn and (an or a == b), (ml, wl)

    gm = d.groupby("k").median().to_pandas().sort_index()
    pm = pdf.groupby("k")[["v", "w"]].median().sort_index()
    assert np.allclose(gm[["v", "w"]].values, pm.values, equal_nan=True)
    gv = d.groupby("k").var().to_pandas().sort_index()
    pv = pdf.groupby("k")[["v", "w"]].var().sort_index()
    assert np.allclose(gv[["v", "w"]].values, pv.values, equal_nan=True)

    same(d.groupby("k").ngroup(), pdf.groupby("k").ngroup().astype(float).replace(-1.0, nan))

    gd = d.groupby("k").describe().to_pandas().sort_index()
    pdd = pdf.groupby("k").describe()
    for c in ("v", "w"):
        for s in ("count", "mean", "std", "min", "25%", "50%", "75%", "max"):
            assert np.allclose(
                gd[f"{c}_{s}"].values.astype(float),
                pdd[(c, s)].sort_index().values.astype(float),
                equal_nan=True,
            ), (c, s)

    mvc = d.groupby("k")["v"].value_counts().to_pandas()
    pvc = pdf.groupby("k")["v"].value_counts()
    assert mvc.tolist() == pvc.tolist()
    assert [tuple(x) for x in mvc.index] == [tuple(x) for x in pvc.index]

    pe = lambda s: s.reset_index(level=0, drop=True).sort_index()
    same(d.groupby("k")["v"].expanding().mean(), pe(pdf.groupby("k")["v"].expanding().mean()), sort=True)
    same(d.groupby("k")["v"].expanding(2).sum(), pe(pdf.groupby("k")["v"].expanding(2).sum()), sort=True)
    same(d.groupby("k")["v"].expanding().count(), pe(pdf.groupby("k")["v"].expanding().count()), sort=True)
    same(d.groupby("k")["v"].rolling(2).mean(), pe(pdf.groupby("k")["v"].rolling(2).mean()), sort=True)
    same(d.groupby("k")["v"].ewm(alpha=0.5).mean(), pe(pdf.groupby("k")["v"].ewm(alpha=0.5).mean()), sort=True)

    # dropna parity on the row-aligned family
    same(d.groupby("k")["v"].transform("sum"), pdf.groupby("k")["v"].transform("sum"))
    same(d.groupby("k").cumcount(), pdf.groupby("k").cumcount().astype("float").where(pdf.k.notna()))
    same(d.groupby("k")["v"].shift(), pdf.groupby("k")["v"].shift())
    same(d.groupby("k")["v"].rank(), pdf.groupby("k")["v"].rank())
    same(d.groupby("k")["v"].cumsum(), pdf.groupby("k")["v"].cumsum())
    same(d.groupby("k")["v"].diff(), pdf.groupby("k")["v"].diff())
    same(d.groupby("k").size(), pdf.groupby("k").size(), sort=True)
    assert sorted(d.groupby("k").head(1).to_pandas().index.tolist()) == sorted(
        pdf.groupby("k").head(1).index.tolist()
    )
    im = d.groupby("k")["v"].idxmax().to_pandas().sort_index()
    assert im.tolist() == pdf.groupby("k")["v"].idxmax().sort_index().tolist()


def test_groupby_ops_with_named_index(spark):
    """idxmax/head/filter/rolling on a frame whose index travels under a
    user name (from_spark index_col=...) — the materialized frame renames
    it to INDEX_COL, which these operators must use (r7 fix)."""
    from pontem_spark.core import from_spark
    from pontem_spark.sources.tables import load_table

    ev = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("event_id", "user_id", "value")
        .limit(50)
    )
    df = from_spark(ev, index_col="event_id")
    assert len(df.groupby("user_id")["value"].idxmax().to_pandas()) > 0
    assert df.groupby("user_id").head(1).to_pandas().shape[1] == 2
    assert df.groupby("user_id").filter(lambda g: len(g) > 0).to_pandas().shape == (50, 2)
    assert df.groupby("user_id")["value"].rolling(2).mean().to_pandas().shape == (50,)
    assert df.groupby("user_id")["value"].expanding().sum().to_pandas().shape == (50,)


def test_probe_pins_round7g_frame_series_tail(spark):
    """r7 probe batch: frame any/all/add_prefix/add_suffix/squeeze/stack/T,
    Series unstack/searchsorted/repeat/explode/corr/cov/dot."""
    import math

    import numpy as np
    import pandas as pd

    from pontem_spark.core import DataFrame

    nan = float("nan")
    pdf = pd.DataFrame(
        {
            "k": ["a", "b", "a", "c", "b", "a"],
            "v": [3.0, 1.0, nan, 1.0, 5.0, 9.0],
            "w": [1, 2, 3, 4, 5, 6],
            "s": ["x", "", "y", None, "z", "q"],
        }
    )
    d = DataFrame(
        {"k": pdf.k.tolist(), "v": pdf.v.tolist(), "w": pdf.w.tolist(), "s": pdf.s.tolist()},
        spark=spark,
    )

    assert d.any().to_dict() == pdf.any().to_dict()
    assert d.all().to_dict() == pdf.all().to_dict()
    assert d.add_prefix("x_").columns == ["x_k", "x_v", "x_w", "x_s"]
    assert d.add_suffix("_y").columns == ["k_y", "v_y", "w_y", "s_y"]
    assert d[["v"]].squeeze().to_pandas().fillna(-1).tolist() == pdf["v"].fillna(-1).tolist()

    ms, ps = d[["v", "w"]].stack().to_pandas(), pdf[["v", "w"]].stack()
    assert ms.tolist() == ps.tolist()
    assert [tuple(x) for x in ms.index] == [tuple(x) for x in ps.index]

    mt, pt = d[["v", "w"]].T.to_pandas(), pdf[["v", "w"]].T
    assert np.allclose(mt.values.astype(float), pt.values, equal_nan=True)
    assert list(mt.index) == list(pt.index)

    mu = d.groupby(["k", "s"])["w"].agg("sum").unstack().to_pandas().sort_index()
    pu = pdf.groupby(["k", "s"])["w"].sum().unstack().sort_index()
    assert np.allclose(
        mu.reindex(columns=sorted(mu.columns)).fillna(-9).values.astype(float),
        pu.reindex(columns=sorted(pu.columns)).fillna(-9).values,
        equal_nan=True,
    )

    sv = sorted(pdf["w"])
    assert d["w"].searchsorted(3) == int(np.searchsorted(sv, 3, side="left"))
    assert d["w"].searchsorted(3, "right") == int(np.searchsorted(sv, 3, side="right"))

    mr, pr = d["w"].repeat(2).to_pandas(), pdf["w"].repeat(2)
    assert mr.tolist() == pr.tolist() and mr.index.tolist() == pr.index.tolist()

    e = DataFrame({"a": [[1, 2], [], None, [3]]}, spark=spark)
    me = e["a"].explode().to_pandas()
    ppe = pd.DataFrame({"a": [[1, 2], [], None, [3]]})["a"].explode()
    assert len(me) == len(ppe) and me.index.tolist() == ppe.index.tolist()
    for a, b in zip(me.tolist(), ppe.tolist()):
        an = a is None or (isinstance(a, float) and math.isnan(a))
        bn = b is None or (isinstance(b, float) and math.isnan(b))
        assert an == bn and (an or a == b)

    assert abs(d["v"].corr(d["w"]) - pdf["v"].corr(pdf["w"])) < 1e-12
    assert abs(d["v"].cov(d["w"]) - pdf["v"].cov(pdf["w"])) < 1e-12
    assert math.isnan(d["v"].dot(d["w"]))
    assert abs(d["w"].dot(d["w"]) - float(pdf["w"].dot(pdf["w"]))) < 1e-9


# ---- round-7 frame-method batch (scalar ops, where/mask, fills, misc) ----


NUM_RAW = {"a": [1.0, 2.0, np.nan, 4.0, 5.0], "b": [10.0, np.nan, 30.0, 40.0, 50.0]}


@pytest.fixture()
def npf(spark):
    return DataFrame(NUM_RAW, spark=spark)


@pytest.fixture()
def nwf():
    return pd.DataFrame(NUM_RAW)


def _eq_frames(got: "DataFrame", want: pd.DataFrame):
    g = got.to_pandas()[list(want.columns)]
    pd.testing.assert_frame_equal(
        g.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )


def test_frame_scalar_arithmetic(npf, nwf):
    _eq_frames(npf + 2, nwf + 2)
    _eq_frames(npf - 1, nwf - 1)
    _eq_frames(npf * 3, nwf * 3)
    _eq_frames(npf / 2, nwf / 2)
    _eq_frames(2 + npf, 2 + nwf)
    _eq_frames(npf.add(5), nwf.add(5))
    _eq_frames(npf.rsub(100), nwf.rsub(100))


def test_frame_scalar_comparisons_nan_false(npf, nwf):
    _eq_frames(npf > 3, nwf > 3)
    _eq_frames(npf.le(30), nwf.le(30))
    _eq_frames(npf.eq(4.0), nwf.eq(4.0))
    _eq_frames(npf.ne(4.0), nwf.ne(4.0))


def test_frame_arithmetic_rejects_strings(pf):
    with pytest.raises(TypeError):
        pf + 1


def test_frame_where_mask(npf, nwf):
    _eq_frames(npf.where(npf > 2), nwf.where(nwf > 2))
    _eq_frames(npf.where(npf > 2, -1), nwf.where(nwf > 2, -1))
    _eq_frames(npf.mask(npf > 2, 0), nwf.mask(nwf > 2, 0))


def test_frame_where_rejects_foreign_cond(spark, npf):
    other = DataFrame(NUM_RAW, spark=spark)
    with pytest.raises(ValueError):
        npf.where(other > 2)


def test_frame_ffill_bfill(npf, nwf):
    _eq_frames(npf.ffill(), nwf.ffill())
    _eq_frames(npf.bfill(), nwf.bfill())


def test_frame_sort_index_roundtrip(pf, wf):
    got = pf.sort_values("b", ascending=False).sort_index()
    want = wf.sort_values("b", ascending=False).sort_index()
    _eq_frames(got, want)


def test_frame_pipe_equals_take(pf, wf):
    assert pf.pipe(lambda d: d.shape) == wf.pipe(lambda d: d.shape)
    assert pf.equals(pf)
    assert not pf.equals(pf.head(3))
    _eq_frames(pf.take([0, 2, 4]), wf.take([0, 2, 4]))


def test_frame_isin(pf, wf):
    _eq_frames(pf.isin({"a": [1, 3], "seg": ["x"]}), wf.isin({"a": [1, 3], "seg": ["x"]}))
    _eq_frames(pf[["a"]].isin([2, 5]), wf[["a"]].isin([2, 5]))


def test_frame_replace(pf, wf):
    _eq_frames(pf.replace({"x": "z", 1: 100}), wf.replace({"x": "z", 1: 100}))


def test_frame_select_dtypes(pf, wf):
    assert pf.select_dtypes(include="number").columns == list(
        wf.select_dtypes(include="number").columns
    )
    assert pf.select_dtypes(exclude="number").columns == list(
        wf.select_dtypes(exclude="number").columns
    )


def test_frame_items_keys(pf, wf):
    assert pf.keys() == list(wf.keys())
    names = [k for k, _ in pf.items()]
    assert names == list(wf.columns)


def test_frame_join_on_index(spark):
    left = DataFrame({"a": [1, 2, 3]}, spark=spark)
    right = DataFrame({"b": [10.0, 20.0, 30.0]}, spark=spark)
    got = left.join(right).to_pandas().sort_values("a").reset_index(drop=True)
    want = (
        pd.DataFrame({"a": [1, 2, 3]})
        .join(pd.DataFrame({"b": [10.0, 20.0, 30.0]}))
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[["a", "b"]], want, check_dtype=False)


# ---- round-7 batch 2: loc, map, apply, mode, cumprod, combine_first, reindex


def test_frame_loc_variants(pf, wf):
    # mask
    _eq_frames(pf.loc[pf["a"] > 2], wf.loc[wf["a"] > 2])
    # label list
    _eq_frames(pf.loc[[0, 2]], wf.loc[[0, 2]])
    with pytest.raises(KeyError):
        pf.loc[[0, 99]]
    # label slice is inclusive
    _eq_frames(pf.loc[1:3], wf.loc[1:3])
    # single label -> pandas Series row
    prow, wrow = pf.loc[2], wf.loc[2]
    assert list(prow.index) == list(wrow.index)
    assert prow["a"] == wrow["a"] and prow["seg"] == wrow["seg"]
    # scalar cell
    assert pf.loc[2, "a"] == wf.loc[2, "a"]
    # rows + column list
    _eq_frames(pf.loc[[0, 1], ["a", "b"]], wf.loc[[0, 1], ["a", "b"]])


def test_frame_map_applymap(npf, nwf):
    f = lambda x: x if x != x else x * 2  # keep NaN, double the rest
    _eq_frames(npf.map(f), nwf.map(f))


def test_frame_apply_axis0_and_axis1(pf, wf, npf, nwf):
    got = npf.apply(lambda s: s.sum())
    want = nwf.apply(lambda s: s.sum())
    assert dict(got) == pytest.approx(dict(want))
    got1 = npf.apply(lambda r: r["a"] + r["b"], axis=1).to_pandas()
    want1 = nwf.apply(lambda r: r["a"] + r["b"], axis=1)
    np.testing.assert_allclose(
        sorted(got1.fillna(-9).values), sorted(want1.fillna(-9).values)
    )


def test_frame_mode_cumprod(spark):
    raw = {"x": [1.0, 1.0, 2.0], "y": [5.0, 6.0, 7.0]}
    pfm = DataFrame(raw, spark=spark)
    wfm = pd.DataFrame(raw)
    pd.testing.assert_frame_equal(pfm.mode(), wfm.mode(), check_dtype=False)
    _eq_frames(pfm.cumprod(), wfm.cumprod())


def test_frame_prod_sem_skew_kurt(npf, nwf):
    for m in ("prod", "sem", "skew", "kurt"):
        got = getattr(npf, m)()
        want = getattr(nwf, m)()
        for c in want.index:
            assert got[c] == pytest.approx(want[c], nan_ok=True), (m, c)


def test_frame_combine_first(spark):
    a = DataFrame({"v": [1.0, np.nan, 3.0]}, spark=spark)
    b = DataFrame({"v": [9.0, 2.0, 9.0], "w": [7.0, 7.0, 7.0]}, spark=spark)
    got = a.combine_first(b).to_pandas().sort_index()
    want = pd.DataFrame({"v": [1.0, np.nan, 3.0]}).combine_first(
        pd.DataFrame({"v": [9.0, 2.0, 9.0], "w": [7.0, 7.0, 7.0]})
    )
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want, check_dtype=False)


def test_frame_reindex(spark):
    a = DataFrame({"v": [1.0, 2.0, 3.0]}, spark=spark)
    got = a.reindex([0, 2, 5]).to_pandas().sort_index()
    want = pd.DataFrame({"v": [1.0, 2.0, 3.0]}).reindex([0, 2, 5])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_frame_rolling_expanding_interpolate(spark):
    raw = {"x": [1.0, 2.0, np.nan, 4.0, 5.0], "y": [2.0, 4.0, 6.0, np.nan, 10.0]}
    pfr = DataFrame(raw, spark=spark)
    wfr = pd.DataFrame(raw)
    _eq_frames(pfr.rolling(2).sum(), wfr.rolling(2).sum())
    _eq_frames(pfr.rolling(3, min_periods=1).mean(), wfr.rolling(3, min_periods=1).mean())
    _eq_frames(pfr.rolling(2).count(), wfr.rolling(2).count())
    _eq_frames(pfr.expanding().sum(), wfr.expanding().sum())
    _eq_frames(pfr.expanding(min_periods=2).mean(), wfr.expanding(min_periods=2).mean())
    _eq_frames(pfr.interpolate(), wfr.interpolate())
    lead = {"x": [np.nan, np.nan, 3.0, np.nan], "y": [1.0, np.nan, np.nan, np.nan]}
    _eq_frames(DataFrame(lead, spark=spark).interpolate(), pd.DataFrame(lead).interpolate())


def test_frame_at_iat(pf, wf):
    assert pf.at[2, "a"] == wf.at[2, "a"]
    assert pf.iat[1, 0] == wf.iat[1, 0]
    assert pf.iat[4, 2] == wf.iat[4, 2]


def test_frame_value_counts(spark):
    raw = {"g": ["x", "x", "y", "x"], "h": [1, 1, 2, 3]}
    pfv = DataFrame(raw, spark=spark)
    wfv = pd.DataFrame(raw)
    got = pfv.value_counts().to_pandas()
    want = wfv.value_counts()
    assert sorted(got.values.tolist()) == sorted(want.values.tolist())
    assert dict(zip(got.index, got.values)) == dict(zip(want.index, want.values))
    gotn = pfv[["g"]].value_counts(normalize=True).to_pandas()
    wantn = wfv[["g"]].value_counts(normalize=True)
    assert dict(zip(gotn.index, gotn.values)) == dict(
        zip([i[0] for i in wantn.index], wantn.values)
    )


def test_frame_multiindex_levels(spark):
    raw = {"g": ["x", "x", "y"], "h": [1, 2, 1], "v": [10.0, 20.0, 30.0]}
    pfm = DataFrame(raw, spark=spark).set_index(["g", "h"])
    wfm = pd.DataFrame(raw).set_index(["g", "h"])
    pd.testing.assert_frame_equal(
        pfm.droplevel("g").to_pandas().sort_index(),
        wfm.droplevel("g").sort_index(),
        check_dtype=False,
    )
    pd.testing.assert_frame_equal(
        pfm.swaplevel().to_pandas().sort_index(),
        wfm.swaplevel().sort_index(),
        check_dtype=False,
    )
    pd.testing.assert_frame_equal(
        pfm.xs("x", level="g").to_pandas().sort_index(),
        wfm.xs("x", level="g").sort_index(),
        check_dtype=False,
    )
    assert pfm.rename_axis(("a", "b")).to_pandas().index.names == ["a", "b"]


def test_frame_trivials_batch(spark):
    raw = {"a": [1, 2], "b": [3.0, 4.0]}
    pft = DataFrame(raw, spark=spark)
    wft = pd.DataFrame(raw)
    np.testing.assert_array_equal(
        pft.to_pandas().sort_index().values, wft.values
    )
    assert not pft.empty
    c = pft.copy()
    popped = pft.pop("b")
    assert pft.columns == ["a"] and popped.name == "b"
    assert c.columns == ["a", "b"]  # copy unaffected
    wpop = wft.copy()
    wpop.pop("b")
    assert pft.columns == list(wpop.columns)
    pft.insert(0, "z", 9)
    wpop.insert(0, "z", 9)
    assert pft.columns == list(wpop.columns)
    _eq_frames(pft, wpop)


def test_groupby_prod_sem_skew_kurt(spark):
    raw = {
        "g": ["x"] * 5 + ["y"] * 4,
        "v": [1.0, 2.0, 3.0, 4.0, 10.0, 2.0, 2.0, 5.0, np.nan],
    }
    pg = DataFrame(raw, spark=spark).groupby("g")
    wg = pd.DataFrame(raw).groupby("g")
    for m in ("prod", "sem", "skew", "kurt"):
        got = getattr(pg, m)().to_pandas().sort_index()["v"]
        if m == "kurt":  # pandas 2.x DataFrameGroupBy has no kurt method
            want = wg["v"].apply(pd.Series.kurt).sort_index()
        else:
            want = getattr(wg, m)()["v"].sort_index()
        for k in want.index:
            g, w = got[k], want[k]
            if w != w:
                assert g != g or g is None, (m, k, g)
            else:
                assert g == pytest.approx(w, rel=1e-9), (m, k)
    # series-level grouped agg spec routes through the same table entries
    got = DataFrame(raw, spark=spark).groupby("g")["v"].agg("skew").to_pandas().sort_index()
    want = pd.DataFrame(raw).groupby("g")["v"].skew().sort_index()
    assert got["x"] == pytest.approx(want["x"], rel=1e-9)


def test_frame_unstack_corrwith(spark):
    raw = {"g": ["x", "x", "y", "y"], "h": ["a", "b", "a", "b"],
           "v": [1.0, 2.0, 3.0, 4.0], "w": [5.0, 6.0, 7.0, 8.0]}
    pfm = DataFrame(raw, spark=spark).set_index(["g", "h"])
    wfm = pd.DataFrame(raw).set_index(["g", "h"])
    got = pfm.unstack().to_pandas().sort_index()
    want = wfm.unstack().sort_index()
    want.columns = [f"{c}_{l}" for c, l in want.columns]
    pd.testing.assert_frame_equal(
        got[sorted(got.columns)], want[sorted(want.columns)],
        check_dtype=False, check_names=False,
    )

    a = DataFrame({"v": [1.0, 2.0, 3.0, 4.0], "w": [2.0, 1.0, 4.0, 3.0]}, spark=spark)
    b = DataFrame({"v": [1.1, 2.2, 2.9, 4.3], "w": [1.0, 2.0, 3.0, 4.0]}, spark=spark)
    wa = pd.DataFrame({"v": [1.0, 2.0, 3.0, 4.0], "w": [2.0, 1.0, 4.0, 3.0]})
    wb = pd.DataFrame({"v": [1.1, 2.2, 2.9, 4.3], "w": [1.0, 2.0, 3.0, 4.0]})
    got_c = a.corrwith(b)
    want_c = wa.corrwith(wb)
    for c in want_c.index:
        assert got_c[c] == pytest.approx(want_c[c], rel=1e-9)


def test_frame_final_batch_basics(pf, wf, npf, nwf):
    assert pf.ndim == wf.ndim and pf.size == wf.size
    _eq_frames(pf.tail(2), wf.tail(2))
    assert pf.get("a").sum() == wf.get("a").sum()
    assert pf.get("zzz", "dflt") == "dflt"
    assert pf.filter(items=["a", "seg"]).columns == list(wf.filter(items=["a", "seg"]).columns)
    assert pf.filter(like="e").columns == list(wf.filter(like="e").columns)
    assert pf.filter(regex="^[ab]$").columns == list(wf.filter(regex="^[ab]$").columns)
    _eq_frames(pf.truncate(1, 3), wf.truncate(1, 3))
    _eq_frames(npf.floordiv(2), nwf.floordiv(2))
    _eq_frames(npf.mod(3), nwf.mod(3))
    _eq_frames(npf.pow(2), nwf.pow(2))
    _eq_frames(npf.rfloordiv(100), nwf.rfloordiv(100))
    assert pf.set_axis(["x", "y", "z"]).columns == ["x", "y", "z"]


def test_frame_update_align_compare(spark):
    a = DataFrame({"v": [1.0, np.nan, 3.0], "w": [1.0, 1.0, 1.0]}, spark=spark)
    b = DataFrame({"v": [9.0, 2.0, np.nan]}, spark=spark)
    wa = pd.DataFrame({"v": [1.0, np.nan, 3.0], "w": [1.0, 1.0, 1.0]})
    wb = pd.DataFrame({"v": [9.0, 2.0, np.nan]})
    wupd = wa.copy()
    wupd.update(wb)
    assert a.update(b) is None  # pandas returns None (in-place, r9)
    _eq_frames(a, wupd)
    a = DataFrame({"v": [1.0, np.nan, 3.0], "w": [1.0, 1.0, 1.0]}, spark=spark)

    la, lb = a[["v"]].align(b)
    wla, wlb = wa[["v"]].align(wb)
    _eq_frames(la, wla)
    _eq_frames(lb, wlb)

    cmp = a[["v"]].compare(b).to_pandas().sort_index()
    wcmp = wa[["v"]].compare(wb)
    wcmp.columns = [f"{c}_{l}" for c, l in wcmp.columns]
    pd.testing.assert_frame_equal(cmp[sorted(cmp.columns)], wcmp[sorted(wcmp.columns)],
                                  check_dtype=False, check_names=False)


def test_frame_terminals_and_constructors(spark, pf, wf):
    assert pf.first_valid_index() == wf.first_valid_index()
    assert pf.last_valid_index() == wf.last_valid_index()
    fd = DataFrame.from_dict({"x": [1, 2]}, spark=spark)
    assert fd.columns == ["x"] and len(fd) == 2
    fr = DataFrame.from_records([(1, "a"), (2, "b")], columns=["n", "s"], spark=spark)
    assert fr.columns == ["n", "s"]
    rows = list(pf.iterrows())
    assert len(rows) == len(wf)
    tups = list(pf.itertuples())
    assert len(tups) == len(wf)
    assert isinstance(pf.to_dict(), dict)
    assert pf.to_numpy().shape == wf.to_numpy().shape
    assert isinstance(pf.to_string(), str)  # to_markdown needs optional tabulate
    got = pf.pivot(index="a", columns="seg", values="b").to_pandas().sort_index()
    want = wf.pivot(index="a", columns="seg", values="b").sort_index()
    assert sorted(got.columns) == sorted(str(c) for c in want.columns)


def test_frame_to_parquet_roundtrip(spark, tmp_path, pf):
    p = str(tmp_path / "out")
    pf.to_parquet(p)
    back = spark.read.parquet(p)
    assert back.count() == 5


def test_frame_resample_time_filters(spark):
    import datetime as dt

    from pontem_spark.core import from_spark

    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(minutes=53 * i), float(i), float(i * 2)) for i in range(40)]
    base = spark.createDataFrame(rows, ["ts", "v", "w"])
    f = from_spark(base, index_col="ts")[["v", "w"]]
    wfr = pd.DataFrame(
        {"v": [float(i) for i in range(40)], "w": [float(i * 2) for i in range(40)]},
        index=[t0 + dt.timedelta(minutes=53 * i) for i in range(40)],
    )
    got = f.resample("6h").mean().to_pandas().sort_index()
    want = wfr.resample("6h").mean()
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_names=False, check_freq=False)

    gb = f.between_time("10:00", "14:00").to_pandas().sort_index()
    wb = wfr.between_time("10:00", "14:00").sort_index()
    assert gb.index.tolist() == wb.index.tolist()


def test_frame_resample_full_grid_matches_pandas(spark):
    """Frame resample emits pandas' complete bucket grid anchored at
    midnight of the first day (origin='start_day'): empty buckets are NaN
    for mean, 0 for sum/count. '7min' does not divide the 05:03 offset, so
    an epoch-anchored grid lands on other buckets."""
    import datetime as dt

    from pontem_spark.core import from_spark

    t0 = dt.datetime(2024, 1, 1, 5, 3)
    idx = [t0 + dt.timedelta(minutes=m) for m in (0, 3, 4, 30, 31, 60, 95, 101)]
    v = [float(i) for i in range(len(idx))]
    w = [np.nan, 2.0, 4.0, np.nan, 8.0, 10.0, 12.0, 14.0]
    base = spark.createDataFrame(list(zip(idx, v, w)), ["ts", "v", "w"])
    f = from_spark(base, index_col="ts")[["v", "w"]]
    wfr = pd.DataFrame({"v": v, "w": w}, index=idx)
    for agg in ("mean", "sum", "count"):
        got = getattr(f.resample("7min"), agg)().to_pandas().sort_index()
        want = getattr(wfr.resample("7min"), agg)()
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_names=False, check_freq=False
        )

    # a str column rides along under the reduction table's eligibility:
    # count counts it and min/max order it like pandas; mean raises
    # TypeError like pandas. Ledgered: sum raises where pandas
    # concatenates a bucket's str cells (the table's sum is numeric-only).
    hourly = [dt.datetime(2024, 1, 1, h) for h in range(4)]
    sx = {"s": ["a", "b", "", "cd"], "x": [1.0, np.nan, 3.0, 4.0]}
    base = spark.createDataFrame(list(zip(hourly, *sx.values())), ["ts", "s", "x"])
    f = from_spark(base, index_col="ts")[["s", "x"]]
    wfr = pd.DataFrame(sx, index=hourly)
    for agg in ("mean", "sum", "min", "max", "count"):
        try:
            want = getattr(wfr.resample("2h"), agg)()
        except TypeError:
            want = None
        if want is None or agg == "sum":
            with pytest.raises(TypeError, match="agg function failed"):
                getattr(f.resample("2h"), agg)()
            assert (want is None) == (agg != "sum"), agg
            continue
        got = getattr(f.resample("2h"), agg)().to_pandas().sort_index()
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_names=False, check_freq=False
        )


def test_frame_pct_change_exact(spark):
    """pandas computes data / data.shift() - 1; (v - prev) / prev is the
    same algebra but other last-ulp floats — exact equality pins it."""
    raw = {
        "x": [1.0, 2.0, np.nan, 4.0, 5.0, 3.5, np.nan],
        "y": [2.0, 4.0, 6.0, np.nan, 10.0, 0.0, 1.0],
    }
    f = DataFrame(raw, spark=spark)
    pdf = pd.DataFrame(raw)
    for kw, want in (
        ({}, pdf.ffill().pct_change(fill_method=None)),
        ({"fill_method": None}, pdf.pct_change(fill_method=None)),
    ):
        pd.testing.assert_frame_equal(
            f.pct_change(**kw).to_pandas(), want, check_exact=True
        )


def test_frame_ewm_single_group_scale_guard(spark, monkeypatch):
    """Frame ewm runs every column through ONE Arrow group — the same loud
    guard as the Series form must fire and name the per-key shape."""
    import pontem_spark.core.limits as limits

    monkeypatch.setattr(limits, "MAX_SINGLE_GROUP_ROWS", 5)
    f = DataFrame({"a": [float(i) for i in range(10)], "b": [1.0] * 10}, spark=spark)
    with pytest.raises(ValueError, match="groupby"):
        f.ewm(alpha=0.3).mean()
    monkeypatch.setattr(limits, "MAX_SINGLE_GROUP_ROWS", 1000)
    assert f.ewm(alpha=0.3).mean().to_pandas().shape == (10, 2)


def test_frame_rolling_median(spark):
    raw = {"x": [1.0, 5.0, np.nan, 4.0, 2.0, 8.0], "y": [3.0, 1.0, 2.0, np.nan, np.nan, 7.0]}
    pfr, wfr = DataFrame(raw, spark=spark), pd.DataFrame(raw)
    _eq_frames(pfr.rolling(3).median(), wfr.rolling(3).median())
    _eq_frames(
        pfr.rolling(3, min_periods=1).median(), wfr.rolling(3, min_periods=1).median()
    )


def test_frame_dot_reorder_levels(spark):
    a = DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]}, spark=spark)
    wa = pd.DataFrame({"x": [1.0, 2.0], "y": [3.0, 4.0]})
    b = DataFrame({"p": [1.0, 0.5], "q": [2.0, 1.0]}, spark=spark).set_index(
        "p"
    )  # wrong-shaped index on purpose? build via from pandas instead
    wb = pd.DataFrame({"p": [1.0, 0.0], "q": [0.0, 1.0]}, index=["x", "y"])
    pb = DataFrame(wb, spark=spark)
    got = a.dot(pb).to_pandas().sort_index()
    want = wa.dot(wb)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_names=False)

    raw = {"g": ["x", "y"], "h": [1, 2], "v": [1.0, 2.0]}
    pfm = DataFrame(raw, spark=spark).set_index(["g", "h"])
    wfm = pd.DataFrame(raw).set_index(["g", "h"])
    got_r = pfm.reorder_levels(["h", "g"]).to_pandas().sort_index()
    want_r = wfm.reorder_levels(["h", "g"]).sort_index()
    pd.testing.assert_frame_equal(got_r, want_r, check_dtype=False, check_names=False)


def test_frame_ewm(spark):
    raw = {"x": [1.0, 2.0, np.nan, 4.0], "y": [10.0, 20.0, 30.0, 40.0]}
    pfe = DataFrame(raw, spark=spark)
    wfe = pd.DataFrame(raw)
    for kw in ({"alpha": 0.3}, {"span": 3}, {"halflife": 2.0, "adjust": False}):
        _eq_frames(pfe.ewm(**kw).mean(), wfe.ewm(**kw).mean())
    _eq_frames(pfe.ewm(alpha=0.5).std(), wfe.ewm(alpha=0.5).std())


def test_frame_transform_asof(spark):
    raw = {"x": [1.0, 4.0, 9.0], "y": [1.0, 8.0, 27.0]}
    pft = DataFrame(raw, spark=spark)
    wft = pd.DataFrame(raw)
    _eq_frames(pft.transform("sqrt"), wft.transform("sqrt"))
    _eq_frames(pft.transform(lambda v: v + 1), wft.transform(lambda v: v + 1))
    _eq_frames(pft.divide(2), wft.divide(2))
    assert pft.infer_objects() is pft and pft.convert_dtypes() is pft
    got = pft.asof(1)
    want = wft.asof(1)
    assert got["x"] == want["x"] and got["y"] == want["y"]
    import math

    before = pft.asof(-1)
    assert math.isnan(before["x"])


def test_concat_axis1_and_series(spark):
    a = Series([1.0, 2.0], spark=spark).rename("a")
    b = Series([10.0, 20.0, 30.0], spark=spark).rename("b")
    got = concat([a, b], axis=1).to_pandas().sort_index()
    want = pd.concat(
        [pd.Series([1.0, 2.0], name="a"), pd.Series([10.0, 20.0, 30.0], name="b")],
        axis=1,
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_names=False)
    # axis=0 with all-Series inputs is a SERIES like pandas (r10 probe
    # fix — previously leaked the 1-column frame lift)
    got0 = concat([a, a]).to_pandas()
    assert isinstance(got0, pd.Series) and got0.name == "a"
    assert sorted(got0.tolist()) == [1.0, 1.0, 2.0, 2.0]


def test_r9_merge_indicator(spark):
    """Round-9 probe pin: merge(indicator=True) appends pandas' _merge
    disposition column ('left_only'/'right_only'/'both'; str names it),
    derived from the already-carried source-index null flags."""
    import pandas as pd
    import pytest

    la = pd.DataFrame({"k": [1, 1, 2, 5], "v": [10, 11, 12, 13]})
    rb = pd.DataFrame({"k": [1, 3], "w": [7, 8]})
    fa = DataFrame(la.to_dict("list"), spark=spark)
    fb = DataFrame(rb.to_dict("list"), spark=spark)
    for how in ["inner", "left", "right", "outer"]:
        got = fa.merge(fb, on="k", how=how, indicator=True).to_pandas()
        want = la.merge(rb, on="k", how=how, indicator=True)
        assert sorted(got["_merge"].astype(str)) == sorted(
            want["_merge"].astype(str)
        ), how
        gk = got.sort_values(["k", "_merge"]).reset_index(drop=True)
        wk = want.sort_values(["k", "_merge"]).reset_index(drop=True)
        assert gk["k"].tolist() == wk["k"].tolist(), how
    named = fa.merge(fb, on="k", how="outer", indicator="disp").to_pandas()
    assert "disp" in named.columns
    with pytest.raises(ValueError):
        fa.merge(fb, on="k", indicator="v")


def test_r9_concat_preserves_input_row_order(spark):
    """Round-9 ADVICE pin: concat keeps each input's CURRENT row order
    (a frame or Series just sorted by value), not its index order — via
    the per-block mono-id-after-sort rank; index-ordered inputs skip the
    rank entirely."""
    import pandas as pd

    pa = pd.DataFrame({"v": [3, 1, 2]})
    pb = pd.DataFrame({"v": [9, 8]})
    fa = DataFrame(pa.to_dict("list"), spark=spark).sort_values("v")
    fb = DataFrame(pb.to_dict("list"), spark=spark)
    got = concat([fa, fb]).to_pandas()["v"].tolist()
    assert got == pd.concat([pa.sort_values("v"), pb])["v"].tolist()

    sa = Series([3, 1, 2], name="v", spark=spark).sort_values(ascending=False)
    sb = Series([9, 8], name="v", spark=spark)
    got_s = concat([sa, sb]).to_pandas().tolist()
    want_s = pd.concat(
        [pd.Series([3, 1, 2], name="v").sort_values(ascending=False),
         pd.Series([9, 8], name="v")]
    ).tolist()
    assert got_s == want_s


def test_r9_pivot_table_dropna_margins_grid(spark):
    """Round-9 grid pin: pandas' dropna semantics for pivot_table, fully.

    - dropna=True drops INDEX keys whose every cell is missing for the
      mean family; sum/count keep them (their zero cells are 'present').
    - margins come from the NaN-DROPPED data when dropna=True: a group
      or pivot column with zero valid rows reindexes to NaN; with
      dropna=False the group exists and sum/count margins are 0.
    - the grand total is COMPUTED, not reindexed: sum/count give 0 on
      empty valid data in both dropna modes.
    - fully degenerate input (no valid data anywhere) + margins +
      mean family -> completely empty frame, no All row.
    """
    import numpy as np
    import pandas as pd

    frames = [
        pd.DataFrame(
            {
                "k": ["a", "a", "b", "d"],
                "c": ["x", "y", "x", "x"],
                "v": [1.0, 2.0, 3.0, np.nan],
            }
        ),
        pd.DataFrame(
            {"k": ["a", "d", "d"], "c": ["x", "y", "x"], "v": [np.nan] * 3}
        ),
    ]
    for pdf in frames:
        f = DataFrame(pdf.to_dict("list"), spark=spark)
        for aggfunc in ["sum", "mean", "count", "min", "median"]:
            for margins in (False, True):
                for dropna in (True, False):
                    got = f.pivot_table(
                        index="k", columns="c", values="v",
                        aggfunc=aggfunc, margins=margins, dropna=dropna,
                    ).to_pandas().sort_index()
                    want = pd.pivot_table(
                        pdf, index="k", columns="c", values="v",
                        aggfunc=aggfunc, margins=margins, dropna=dropna,
                    )
                    label = (aggfunc, margins, dropna)
                    assert sorted(map(str, got.index)) == sorted(
                        map(str, want.index)
                    ), label
                    assert sorted(map(str, got.columns)) == sorted(
                        map(str, want.columns)
                    ), label
                    for r in want.index:
                        for c in want.columns:
                            g, w = got.loc[str(r), str(c)], want.loc[r, c]
                            gn, wn = pd.isna(g), pd.isna(w)
                            assert gn == wn and (
                                gn or abs(float(g) - float(w)) < 1e-9
                            ), (label, r, c, g, w)


def test_r9_crosstab_margins_normalize(spark):
    """Round-9 extension pin: crosstab margins + normalize follow pandas,
    including the margin asymmetry — normalize='index' keeps only the
    All ROW, 'columns' only the All COLUMN, 'all'/True both with corner
    1.0 — and NULL keys drop on either side. A requested-but-absent
    pivot value under normalize='columns' divides by a zero total and
    comes back missing, like pandas."""
    import pandas as pd

    pdf = pd.DataFrame(
        {"a": ["x", "x", "y", "z", "x", None], "b": ["p", "q", "p", "q", "p", "p"]}
    )
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    for norm in (False, True, "all", "index", "columns"):
        for m in (False, True):
            got = f.crosstab("a", "b", margins=m, normalize=norm).to_pandas().sort_index()
            want = pd.crosstab(pdf["a"], pdf["b"], margins=m, normalize=norm)
            assert sorted(map(str, got.index)) == sorted(map(str, want.index)), (norm, m)
            assert sorted(map(str, got.columns)) == sorted(map(str, want.columns)), (norm, m)
            for r in want.index:
                for c in want.columns:
                    assert abs(float(got.loc[str(r), str(c)]) - float(want.loc[r, c])) < 1e-9, (norm, m, r, c)
    sup = f.crosstab("a", "b", column_values=["p", "q", "r"], normalize="columns").to_pandas()
    assert sup["r"].isna().all()


def test_r9_frame_combine(spark):
    """Round-9 extension pin: DataFrame.combine aligns (outer index,
    sorted column union), then merges each column pair with the callable
    — which receives two engine Series on ONE shared anchor, so standard
    Series-op compositions stay a single distributed plan."""
    import pandas as pd

    pa = pd.DataFrame({"A": [0.0, 5.0], "B": [4.0, None]})
    pb = pd.DataFrame({"A": [1.0, 1.0], "B": [3.0, 3.0], "C": [9.0, 9.0]})
    fa = DataFrame(pa.to_dict("list"), spark=spark)
    fb = DataFrame(pb.to_dict("list"), spark=spark)
    take_larger = lambda s1, s2: s1.where(s1 > s2, s2)  # noqa: E731
    for fv in (None, -5.0):
        got = fa.combine(fb, take_larger, fill_value=fv).to_pandas().sort_index()
        want = pa.combine(pb, take_larger, fill_value=fv)
        assert list(got.columns) == list(want.columns)
        for c in want.columns:
            for g, w in zip(got[c].tolist(), want[c].tolist()):
                assert (pd.isna(g) and pd.isna(w)) or g == w, (fv, c, g, w)


def test_r9_reindex_like(spark):
    """Round-9 extension pin: reindex_like conforms to the other
    object's index (and, for frames, COLUMNS — both axes like pandas)
    via one distributed join, no label collect."""
    import pandas as pd

    pa = pd.DataFrame({"v": [1.0, 2.0, 3.0], "u": [5.0, 6.0, 7.0]})
    pb = pd.DataFrame({"v": [9.0, 9.0], "w": [0.0, 0.0]}, index=[2, 5])
    fa = DataFrame({"v": [1.0, 2.0, 3.0], "u": [5.0, 6.0, 7.0]}, spark=spark)
    fb = DataFrame({"v": [9.0, 9.0], "w": [0.0, 0.0]}, index=[2, 5], spark=spark)
    got = fa.reindex_like(fb).to_pandas().sort_index()
    want = pa.reindex_like(pb).sort_index()
    assert got.index.tolist() == want.index.tolist()
    assert list(got.columns) == list(want.columns)
    for c in want.columns:
        for g, w in zip(got[c].tolist(), want[c].tolist()):
            assert (pd.isna(g) and pd.isna(w)) or g == w, (c, g, w)

    sa = Series([1.0, 2.0, 3.0], spark=spark)
    sb = Series([7.0, 7.0], index=[1, 9], spark=spark)
    gs = sa.reindex_like(sb).to_pandas().sort_index()
    ws = pd.Series([1.0, 2.0, 3.0]).reindex_like(pd.Series([7.0, 7.0], index=[1, 9])).sort_index()
    assert gs.index.tolist() == ws.index.tolist()
    for g, w in zip(gs.tolist(), ws.tolist()):
        assert (pd.isna(g) and pd.isna(w)) or g == w


def test_r9_get_dummies_dummy_na(spark):
    """Round-9 extension pin: dummy_na=True appends the trailing
    {col}_nan indicator for missing cells, like pandas; value indicators
    still read 0 on missing rows."""
    import numpy as np
    import pandas as pd

    from pontem_spark.core.frame import get_dummies

    pdf = pd.DataFrame({"c": ["a", None, "b", "a"], "x": [1, 2, 3, 4]})
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    got = get_dummies(f, columns="c", dummy_na=True).to_pandas().sort_index()
    want = pd.get_dummies(pdf, columns=["c"], dummy_na=True, dtype="int64")
    assert sorted(got.columns) == sorted(map(str, want.columns))
    for c in ["c_a", "c_b", "c_nan", "x"]:
        assert got[c].tolist() == want[c].tolist(), c


@pytest.mark.parametrize("seed", [7, 19, 31])
def test_r9_pivot_crosstab_random_differential(spark, seed):
    """Round-9 randomized pin (same pattern as the r8 grouped-surface
    differential): random NaN-laden frames through pivot_table
    (aggfunc x margins x dropna) and crosstab (margins x normalize),
    cell-compared against pandas."""
    import random

    import numpy as np
    import pandas as pd

    rng = random.Random(seed)
    n = 40
    pdf = pd.DataFrame(
        {
            "k": [rng.choice(["a", "b", "c", "d"]) for _ in range(n)],
            "c": [rng.choice(["x", "y", "z"]) for _ in range(n)],
            "v": [
                float("nan") if rng.random() < 0.25 else float(rng.randint(0, 9))
                for _ in range(n)
            ],
        }
    )
    f = DataFrame(pdf.to_dict("list"), spark=spark)
    for aggfunc in ["sum", "mean", "count", "min", "max"]:
        for margins in (False, True):
            for dropna in (True, False):
                got = f.pivot_table(
                    index="k", columns="c", values="v",
                    aggfunc=aggfunc, margins=margins, dropna=dropna,
                ).to_pandas().sort_index()
                want = pd.pivot_table(
                    pdf, index="k", columns="c", values="v",
                    aggfunc=aggfunc, margins=margins, dropna=dropna,
                )
                label = (seed, aggfunc, margins, dropna)
                assert sorted(map(str, got.index)) == sorted(map(str, want.index)), label
                assert sorted(map(str, got.columns)) == sorted(map(str, want.columns)), label
                for r in want.index:
                    for c in want.columns:
                        g, w = got.loc[str(r), str(c)], want.loc[r, c]
                        gn, wn = pd.isna(g), pd.isna(w)
                        assert gn == wn and (gn or abs(float(g) - float(w)) < 1e-9), (label, r, c, g, w)
    for norm in (False, "all", "index", "columns"):
        for m in (False, True):
            got = f.crosstab("k", "c", margins=m, normalize=norm).to_pandas().sort_index()
            want = pd.crosstab(pdf["k"], pdf["c"], margins=m, normalize=norm)
            label = (seed, norm, m)
            assert sorted(map(str, got.index)) == sorted(map(str, want.index)), label
            assert sorted(map(str, got.columns)) == sorted(map(str, want.columns)), label
            for r in want.index:
                for c in want.columns:
                    assert abs(float(got.loc[str(r), str(c)]) - float(want.loc[r, c])) < 1e-9, (label, r, c)


def test_grouped_value_counts_derived_keeps_count_order(spark):
    """r10 ADVICE twin: groupby value_counts' order_spec keyed the
    rebindable __value__ alias — derived series re-sorted by the derived
    expression."""
    data = {"g": ["a", "a", "a", "b", "b", "b"], "v": [1, 1, 2, 2, 2, 1]}
    df = DataFrame(data, spark=spark)
    w = pd.DataFrame(data)
    got = (df.groupby("g")["v"].value_counts() * -1).to_pandas()
    want = w.groupby("g")["v"].value_counts() * -1
    assert got.tolist() == want.tolist()
    assert got.index.tolist() == want.index.tolist()


def test_crosstab_margins_name_index_collision_raises(spark):
    """r10 ADVICE: an index value equal to margins_name raises (pandas
    parity; previously it silently unioned a data row next to the totals
    row). The pivot-value collision check still fires too."""
    df = DataFrame({"i": ["All", "x"], "c": ["p", "q"]}, spark=spark)
    with pytest.raises(ValueError, match="index"):
        df.crosstab("i", "c", margins=True)
    df2 = DataFrame({"i": ["x", "y"], "c": ["All", "q"]}, spark=spark)
    with pytest.raises(ValueError, match="pivot"):
        df2.crosstab("i", "c", margins=True)


def test_frame_reindex_duplicate_labels_raise(spark):
    dup = DataFrame({"x": [1, 2]}, index=[1, 1], spark=spark)
    with pytest.raises(Exception, match="duplicate labels"):
        dup.reindex([3]).to_pandas()
    other = DataFrame({"x": [0]}, index=[3], spark=spark)
    with pytest.raises(Exception, match="duplicate labels"):
        dup.reindex_like(other).to_pandas()


def test_frame_sorted_output_derived_keeps_sort_order(spark):
    """r10 probe pin (frame twin): replacing a sort column after
    sort_values (df['a'] = df['a'] > 0) keeps the row order — the spec
    keys __sv_{col}__ helpers, not the rebindable user column names."""
    data = {"a": [3.0, -1.0, 2.0, -5.0], "b": [1, 2, 3, 4]}
    wf = pd.DataFrame(data, index=[10, 11, 12, 13])
    df = DataFrame(data, index=[10, 11, 12, 13], spark=spark)
    fs, ws = df.sort_values("a"), wf.sort_values("a")
    fs["a"] = fs["a"] > 0
    ws["a"] = ws["a"] > 0
    got = fs.to_pandas()
    assert got["b"].tolist() == ws["b"].tolist()
    assert got.index.tolist() == ws.index.tolist()
    fn = df.nlargest(3, "a").assign(a=lambda x: x["a"] < 0)
    wn = wf.nlargest(3, "a").assign(a=lambda x: x["a"] < 0)
    gotn = fn.to_pandas()
    assert gotn["b"].tolist() == wn["b"].tolist()
    assert gotn.index.tolist() == wn.index.tolist()


def test_concat_all_series_returns_series(spark):
    """r10 probe pin: concat of all-Series inputs on axis=0 is a SERIES
    like pandas (shared column regardless of names; name = unanimous name
    or None), not a 1-column frame."""
    a = Series([1.0, 2.0], index=[0, 1], spark=spark).rename("a")
    b = Series([3.0], index=[2], spark=spark).rename("a")
    got = concat([a, b]).to_pandas()
    want = pd.concat([pd.Series([1.0, 2.0], name="a"),
                      pd.Series([3.0], index=[2], name="a")])
    assert isinstance(got, pd.Series) and got.name == "a"
    assert got.tolist() == want.tolist() and got.index.tolist() == want.index.tolist()
    # differing names -> None, and the blocks still stack into ONE column
    c = Series([9.0], index=[5], spark=spark).rename("zzz")
    got2 = concat([a, c]).to_pandas()
    assert isinstance(got2, pd.Series) and got2.name is None
    assert got2.tolist() == [1.0, 2.0, 9.0]


def test_merge_matches_missing_keys_like_pandas(spark):
    """r10 probe pin: pandas merge puts ALL missing join keys in one join
    group (NaN↔NaN, None↔None); Spark USING-equality never matches NULL —
    the engine joins null-safe (<=>) instead."""
    la = pd.DataFrame({"k": [1.0, float("nan"), float("nan")], "v": [1, 2, 3]})
    rb = pd.DataFrame({"k": [float("nan"), 1.0], "w": [10, 20]})
    fa = DataFrame(la.to_dict("list"), spark=spark)
    fb = DataFrame(rb.to_dict("list"), spark=spark)
    for how in ("inner", "left", "right", "outer"):
        got = fa.merge(fb, on="k", how=how).to_pandas()
        want = la.merge(rb, on="k", how=how)
        g = got.fillna(-777).sort_values(["v", "w"]).reset_index(drop=True)
        w = want.fillna(-777).sort_values(["v", "w"]).reset_index(drop=True)
        assert g[["k", "v", "w"]].values.tolist() == w[["k", "v", "w"]].values.tolist(), how
    # object None keys match too
    lo = pd.DataFrame({"k": ["a", None], "v": [1, 2]})
    ro = pd.DataFrame({"k": [None, "a"], "w": [10, 20]})
    got = (DataFrame(lo.to_dict("list"), spark=spark)
           .merge(DataFrame(ro.to_dict("list"), spark=spark), on="k", how="inner")
           .to_pandas())
    want = lo.merge(ro, on="k", how="inner")
    assert sorted(got["w"].tolist()) == sorted(want["w"].tolist())


def test_sort_index_on_nondefault_index_anchors(spark):
    """r10 probe pin: sort_index keyed the hardcoded __index__ name and
    crashed on every anchor whose index travels under another column
    (merge's __rowid__, reindex's __idx, value_counts' __vidx__)."""
    a = DataFrame({"k": [2.0, 1.0], "v": [1, 2]}, spark=spark)
    b = DataFrame({"k": [2.0, 1.0], "w": [5, 6]}, spark=spark)
    pa = pd.DataFrame({"k": [2.0, 1.0], "v": [1, 2]})
    pb = pd.DataFrame({"k": [2.0, 1.0], "w": [5, 6]})
    got = a.merge(b, on="k").sort_index().to_pandas()
    want = pa.merge(pb, on="k").sort_index()
    assert got.values.tolist() == want.values.tolist()
    got2 = a.reindex([1, 0]).sort_index(ascending=False).to_pandas()
    want2 = pa.reindex([1, 0]).sort_index(ascending=False)
    assert got2.fillna(-9).values.tolist() == want2.fillna(-9).values.tolist()


def test_fillna_dict_and_set_index_row_order(spark):
    """r10 probe pins: fillna accepts a per-column dict (used to reach
    F.lit and throw LITERAL_TYPE); set_index preserves the CURRENT row
    order (the new index must not become the implicit sort key — prior
    order carried under a helper name, the _level_rebuild trap)."""
    data = {"a": [1, 5, 3, 4], "b": [2.5, float("nan"), 1.0, 9.9], "c": ["x", "y", "x", "z"]}
    wf = pd.DataFrame(data)
    df = DataFrame(data, spark=spark)
    got = df.fillna({"b": 0.0}).to_pandas()
    want = wf.fillna({"b": 0.0})
    assert got.values.tolist() == want.values.tolist()
    got = df.set_index("c")[["a"]].reset_index().to_pandas()
    want = wf.set_index("c")[["a"]].reset_index()
    assert got.values.tolist() == want.values.tolist()
    got = df.set_index(["c", "a"]).reset_index().to_pandas()
    want = wf.set_index(["c", "a"]).reset_index()
    assert got[["c", "a"]].values.tolist() == want[["c", "a"]].values.tolist()
    # a sorted frame keeps its sort through set_index
    gs = df.sort_values("a").set_index("c")[["a"]].to_pandas()
    ws = wf.sort_values("a").set_index("c")[["a"]]
    assert gs.values.tolist() == ws.values.tolist()
    assert list(gs.index) == list(ws.index)
