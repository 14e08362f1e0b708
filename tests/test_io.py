"""Source/sink round-trips: parquet (partitioned), csv, json."""

from __future__ import annotations

import pandas as pd
import pytest

from pontem_spark.sources import read_csv, read_json, read_parquet, write_parquet
from pontem_spark.sources.tables import load_table


def test_parquet_roundtrip_partitioned(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_by_status")
    write_parquet(orders, out, partition_by=["o_orderstatus"])

    back = read_parquet(spark, out)
    assert back.count() == orders.count()
    # partition pruning: reading one status must scan only that partition
    one = read_parquet(spark, out).filter("o_orderstatus = 'F'")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan or "o_orderstatus" in plan


def test_csv_roundtrip_with_schema(spark, tmp_path):
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    src = str(tmp_path / "data.csv")
    pdf.to_csv(src, index=False)
    df = read_csv(spark, src, schema="a bigint, b string")
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"
    assert sorted(r["a"] for r in df.collect()) == [1, 2, 3]


def test_json_roundtrip_with_schema(spark, tmp_path):
    src = str(tmp_path / "data.json")
    with open(src, "w") as f:
        f.write('{"k": 1, "v": "a"}\n{"k": 2, "v": "b"}\n')
    df = read_json(spark, src, schema="k bigint, v string")
    assert df.count() == 2
    assert sorted(r["k"] for r in df.collect()) == [1, 2]


def test_csv_json_writers_roundtrip(spark, sf_dir, tmp_path):
    from pontem_spark.sources import write_csv, write_json

    nation = load_table(spark, sf_dir, "nation")
    write_csv(nation, str(tmp_path / "n_csv"))
    back_csv = read_csv(spark, str(tmp_path / "n_csv"), schema="n_nationkey int, n_name string, n_regionkey int")
    assert back_csv.count() == 25

    write_json(nation, str(tmp_path / "n_json"))
    back_json = read_json(spark, str(tmp_path / "n_json"), schema="n_nationkey int, n_name string, n_regionkey int")
    assert back_json.count() == 25


def test_cluster_conf_sizing():
    from pontem_spark.session import cluster_conf

    conf = cluster_conf(executors=1000, cores_per_executor=4)
    assert conf["spark.sql.shuffle.partitions"] == str(2 * 4000)
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert int(conf["spark.sql.autoBroadcastJoinThreshold"]) == 64 * 1024 * 1024


def test_orc_roundtrip_pruned(spark, sf_dir, tmp_path):
    from pontem_spark.sources import read_orc, write_orc

    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_orc")
    write_orc(orders, out, partition_by=["o_orderstatus"])
    back = read_orc(spark, out)
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)
    # predicate + column pruning survive the format swap
    one = read_orc(spark, out, columns=["o_orderkey", "o_orderstatus"]).filter(
        "o_orderstatus = 'F'"
    )
    n_f = orders.filter("o_orderstatus = 'F'").count()
    assert one.count() == n_f


def test_compact_parquet_reduces_files_preserves_data(spark, sf_dir, tmp_path):
    import os

    from pyspark.sql import functions as F

    from pontem_spark.sources.writers import compact_parquet

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "landing")
    # simulate a micro-batch landing zone: many small files
    orders.repartition(24).write.mode("overwrite").parquet(path)
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) == 24
    before = orders.count()

    n = compact_parquet(spark, path, target_files=3, sort_by=["o_orderdate"])
    assert n <= 4  # repartitionByRange may produce up to target ranges
    back = spark.read.parquet(path)
    assert back.count() == before
    assert sorted(back.columns) == sorted(orders.columns)
    # clustering: each file's date range is narrow — files are skippable.
    # spark exposes the source file via input_file_name()
    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg((F.max("o_orderdate").cast("long") - F.min("o_orderdate").cast("long")).alias("span"))
        .toPandas()
    )
    total_span = (
        orders.agg(
            (F.max("o_orderdate").cast("long") - F.min("o_orderdate").cast("long")).alias("s")
        ).collect()[0]["s"]
    )
    # every clustered file covers well under the full range
    assert (spans["span"] < total_span * 0.7).all()


def test_zorder_clusters_both_columns(spark, sf_dir, tmp_path):
    """Z-order layout: after clustering on (custkey, totalprice), EACH
    column's per-file min/max span is a fraction of its global span — the
    multi-column file-skipping property a single-column sort cannot give.
    A morton key also must agree with a python bit-interleave reference."""
    import os

    from pyspark.sql import functions as F

    from pontem_spark.operators.layout import morton_key, zorder_frame

    # python reference for the interleave itself
    ref = spark.createDataFrame([(5, 9), (0, 0), (65535, 1)], "a long, b long")
    got = ref.select(morton_key(F.col("a"), F.col("b")).alias("k")).collect()

    def py_morton(a, b, bits=16):
        k = 0
        for i in range(bits):
            k |= ((a >> i) & 1) << (2 * i)
            k |= ((b >> i) & 1) << (2 * i + 1)
        return k

    assert [r["k"] for r in got] == [py_morton(5, 9), 0, py_morton(65535, 1)]

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    path = str(tmp_path / "zordered")
    zorder_frame(orders, "o_custkey", "o_totalprice", n_partitions=8).write.mode(
        "overwrite"
    ).parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    n_files = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_files >= 4

    stats = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("o_custkey") - F.min("o_custkey")).alias("span_c"),
            (F.max("o_totalprice") - F.min("o_totalprice")).alias("span_p"),
        )
        .toPandas()
    )
    g = orders.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("c"),
        (F.max("o_totalprice") - F.min("o_totalprice")).alias("p"),
    ).collect()[0]
    # with 8 z-ordered files, the MEDIAN file spans a strict subrange of
    # both dimensions (a random or single-column layout leaves one ~1.0)
    assert stats["span_c"].median() < g["c"] * 0.8
    assert stats["span_p"].median() < g["p"] * 0.8


def test_upsert_parquet_two_batches(spark, tmp_path):
    """MERGE-shaped upsert (VERDICT r6 #6): batch 2 updates a key, adds a
    key, and opens a new partition; the final table equals latest_by_key
    over the union of both batches, is idempotent under replay, and the
    UNtouched partition's files are physically untouched (dynamic
    partition overwrite)."""
    import os

    from pontem_spark.sources.writers import upsert_parquet

    path = str(tmp_path / "cdc")
    schema = "k long, ver long, day string, payload string"
    b1 = spark.createDataFrame(
        [(1, 1, "d1", "a1"), (2, 1, "d1", "b1"), (3, 1, "d2", "c1"), (4, 1, "d3", "e1")],
        schema,
    )
    b2 = spark.createDataFrame(
        [(2, 2, "d1", "b2"), (5, 1, "d4", "f1")], schema
    )
    upsert_parquet(spark, b1, path, "k", ["ver"], partition_by=["day"])

    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    untouched_before = files_of("d2")
    upsert_parquet(spark, b2, path, "k", ["ver"], partition_by=["day"])
    got = {
        r.k: (r.ver, r.day, r.payload)
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        1: (1, "d1", "a1"),
        2: (2, "d1", "b2"),  # updated in place
        3: (1, "d2", "c1"),
        4: (1, "d3", "e1"),
        5: (1, "d4", "f1"),  # new key, new partition
    }
    assert files_of("d2") == untouched_before, "untouched partition rewritten"
    # idempotent: replaying batch 2 changes nothing
    upsert_parquet(spark, b2, path, "k", ["ver"], partition_by=["day"])
    again = {
        r.k: (r.ver, r.day, r.payload)
        for r in spark.read.parquet(path).collect()
    }
    assert again == got


def test_parquet_schema_drift_merge(spark, tmp_path):
    """Two file generations — v2 adds a column. The evolved read unions
    the schemas, nulls the missing column for old files, keeps pushdown
    on the shared columns, and the plain read of either generation is
    unaffected."""
    from pyspark.sql import functions as F

    from pontem_spark.sources.readers import read_parquet_evolved

    base = str(tmp_path / "drift")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"]).write.parquet(
        base + "/gen=1"
    )
    spark.createDataFrame(
        [(3, "c", 0.5), (4, "d", 0.9)], ["id", "name", "score"]
    ).write.parquet(base + "/gen=2")

    df = read_parquet_evolved(spark, base)
    assert set(df.columns) >= {"id", "name", "score"}
    rows = {r["id"]: (r["name"], r["score"]) for r in df.select("id", "name", "score").collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5), 4: ("d", 0.9)}
    # pushdown on a shared column still reaches the scan
    from pontem_spark.plans import pushed_filters

    filtered = df.filter(F.col("id") > 2).select("id")
    assert any("id" in p for p in pushed_filters(filtered))


def test_write_training_shards_deterministic(spark, tmp_path):
    """Two exports of the same frame are row-identical per shard file, and
    shard membership follows the md5 bucket (re-derivable)."""
    from pontem_spark.operators.sampling import hash_bucket
    from pontem_spark.sources.writers import write_training_shards

    from pyspark.sql import functions as F

    df = spark.range(500).select(F.col("id"), (F.col("id") * 2).alias("v"))
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(df, p1, "id", 4)
    write_training_shards(df, p2, "id", 4)

    import glob

    d1 = sorted(glob.glob(p1 + "/__shard=*"))
    d2 = sorted(glob.glob(p2 + "/__shard=*"))
    assert len(d1) == 4 and len(d2) == 4
    for a, b in zip(d1, d2):
        assert len(glob.glob(a + "/part-*")) == 1  # one file per shard
        ra = [tuple(r) for r in spark.read.parquet(a).collect()]
        rb = [tuple(r) for r in spark.read.parquet(b).collect()]
        assert ra == rb  # deterministic content AND order per shard
    total = sum(spark.read.parquet(d).count() for d in d1)
    assert total == 500
    # membership matches the derivable bucket
    expect = {r["b"]: r["n"] for r in
              df.groupBy(hash_bucket("id", 4).alias("b")).agg(F.count(F.lit(1)).alias("n")).collect()}
    for d in d1:
        k = int(d.rsplit("=", 1)[1])
        assert spark.read.parquet(d).count() == expect[k]


def test_atomic_overwrite_swaps_and_rolls_back(spark, tmp_path):
    from pontem_spark.sources.writers import atomic_overwrite_parquet

    path = str(tmp_path / "live")
    atomic_overwrite_parquet(spark.range(10), path)
    assert spark.read.parquet(path).count() == 10
    atomic_overwrite_parquet(spark.range(25), path)
    assert spark.read.parquet(path).count() == 25
    import glob

    # no staging/backup leftovers
    assert glob.glob(str(tmp_path / "live__*")) == []


def test_load_table_cache_reuses_plan_and_invalidates_on_rewrite(spark, sf_dir, tmp_path):
    """r14 item 18: load_table caches the inferred footer schema and the
    normalized lazy DataFrame per (session, path-stat-signature). Repeat
    loads of unchanged files must return the SAME plan object (the chatter
    win), and a rewrite of the file — even with a different schema — must
    invalidate both layers (the staleness guard): the cache may never
    serve metadata for bytes that changed on disk."""
    # 1. repeat load of static test data: plan-object reuse, same schema
    df1 = load_table(spark, sf_dir, "lineitem")
    df2 = load_table(spark, sf_dir, "lineitem")
    assert df2 is df1
    from pontem_spark.sources.tables import normalize_timestamps

    fresh = normalize_timestamps(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    assert df1.schema == fresh.schema

    # 2. rewrite at the same path with a DIFFERENT schema -> re-inferred.
    # r15: the caches now apply only to REGULAR-FILE tables (directories
    # skip caching entirely — see test_load_table_directory_tables_skip_cache),
    # so build the table as a single parquet FILE like the fixtures ship.
    import glob
    import shutil

    def write_file_table(df, dest):
        tmpd = str(tmp_path / "__w")
        df.coalesce(1).write.mode("overwrite").parquet(tmpd)
        shutil.copyfile(glob.glob(tmpd + "/part-*.parquet")[0], dest)

    p = str(tmp_path / "tbl.parquet")
    write_file_table(spark.range(5).selectExpr("id", "cast(id as string) AS s"), p)
    a = load_table(spark, str(tmp_path), "tbl")
    assert set(a.columns) == {"id", "s"} and a.count() == 5
    assert load_table(spark, str(tmp_path), "tbl") is a
    write_file_table(spark.range(3).selectExpr("id", "id * 2 AS v"), p)
    b = load_table(spark, str(tmp_path), "tbl")
    assert b is not a
    assert set(b.columns) == {"id", "v"} and b.count() == 3
    assert [r.v for r in b.orderBy("id").collect()] == [0, 2, 4]


def test_load_table_directory_tables_skip_cache(spark, tmp_path):
    """r15 (ADVICE r14 + VERDICT what's-wrong #2): a DIRECTORY table's
    root mtime/size change only when direct entries are added/removed, so
    a rewrite INSIDE a nested partition dir leaves the root stat unchanged
    — directory tables must therefore skip both cache layers, and a
    partition-level rewrite must be visible to the very next load."""
    import os

    p = str(tmp_path / "dtbl.parquet")
    spark.range(4).selectExpr("id", "id % 2 AS part").write.partitionBy(
        "part"
    ).parquet(p)
    a = load_table(spark, str(tmp_path), "dtbl")
    assert a.count() == 4
    # rewrite the files INSIDE part=0 — no direct child of the root is
    # added or removed, so the root stat signature does not change
    spark.range(100, 106).write.mode("overwrite").parquet(
        os.path.join(p, "part=0")
    )
    b = load_table(spark, str(tmp_path), "dtbl")
    assert b is not a, "directory table served from the plan cache"
    got = sorted(r.id for r in b.collect())
    assert got == [1, 3, 100, 101, 102, 103, 104, 105], got


def test_upsert_parquet_disk_staging_past_bound(spark, tmp_path):
    """r15 (VERDICT r14 what's-wrong #3): past
    ``pontem.upsert.checkpointStagingBytes`` the merged working set stages
    via the reliable disk-staging path instead of executor-resident
    checkpoint blocks. Force the bound to 0 and assert the MERGE result is
    identical to the checkpoint path's, replay stays idempotent, and the
    staging dir is cleaned up."""
    import glob

    from pontem_spark.sources.writers import upsert_parquet

    schema = "k long, ver long, day string, payload string"
    b1 = spark.createDataFrame(
        [(1, 1, "d1", "a1"), (2, 1, "d1", "b1"), (3, 1, "d2", "c1")], schema
    )
    b2 = spark.createDataFrame([(2, 2, "d1", "b2"), (5, 1, "d4", "f1")], schema)

    def run(path):
        upsert_parquet(spark, b1, path, "k", ["ver"], partition_by=["day"])
        upsert_parquet(spark, b2, path, "k", ["ver"], partition_by=["day"])
        upsert_parquet(spark, b2, path, "k", ["ver"], partition_by=["day"])  # replay
        return {
            r.k: (r.ver, r.day, r.payload) for r in spark.read.parquet(path).collect()
        }

    ckpt_path = str(tmp_path / "cdc_ckpt")
    got_ckpt = run(ckpt_path)

    disk_path = str(tmp_path / "cdc_disk")
    spark.conf.set("pontem.upsert.checkpointStagingBytes", "0")
    try:
        got_disk = run(disk_path)
    finally:
        spark.conf.unset("pontem.upsert.checkpointStagingBytes")
    assert got_disk == got_ckpt == {
        1: (1, "d1", "a1"),
        2: (2, "d1", "b2"),
        3: (1, "d2", "c1"),
        5: (1, "d4", "f1"),
    }
    assert glob.glob(disk_path + "__*") == [], "staging dir leaked"


def test_upsert_parquet_disk_staging_removed_when_final_write_fails(spark, tmp_path, monkeypatch):
    """A failure in the final overwrite must not leak the disk-staging
    directory beside the table."""
    import glob

    from pyspark.sql.readwriter import DataFrameWriter

    from pontem_spark.sources.writers import upsert_parquet

    schema = "k long, ver long, day string"
    path = str(tmp_path / "cdc")
    upsert_parquet(
        spark, spark.createDataFrame([(1, 1, "d1")], schema), path, "k", ["ver"], partition_by=["day"]
    )

    real_parquet = DataFrameWriter.parquet
    targets = []

    def parquet_failing_on_table(self, target, *args, **kwargs):
        targets.append(target)
        if target == path:
            raise RuntimeError("injected write failure")
        return real_parquet(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_failing_on_table)
    spark.conf.set("pontem.upsert.checkpointStagingBytes", "0")
    try:
        with pytest.raises(RuntimeError, match="injected write failure"):
            upsert_parquet(
                spark, spark.createDataFrame([(1, 2, "d1")], schema), path, "k", ["ver"],
                partition_by=["day"],
            )
    finally:
        spark.conf.unset("pontem.upsert.checkpointStagingBytes")
    assert [t for t in targets if t.startswith(path + "__staging_")], targets  # disk path taken
    assert glob.glob(path + "__*") == [], "staging dir leaked"
