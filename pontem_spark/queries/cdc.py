"""Change-data-capture and table-maintenance queries: latest-row compaction,
SCD2 history, parquet upserts, small-file compaction, snapshot
reconciliation and incremental rollups. The write-path queries round-trip
through real parquet files and read the result back."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from pontem_spark.queries.registry import register
from pontem_spark.sources.tables import load_table


@register(
    "q_latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_totalprice
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
        ) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
    tags=("dedup", "compaction", "upsert"),
)
def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/CDC compaction: each customer's latest order via
    max(struct(...)) — a map-side-combinable aggregate that shuffles ~|keys|
    rows, where the equivalent row_number window would shuffle every
    version of every key (the whole table at 100 TB)."""
    from pontem_spark.operators.dedup import latest_by_key

    orders = load_table(spark, sf_dir, "orders")
    return latest_by_key(
        orders, "o_custkey", ["o_orderdate", "o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


@register(
    "q_incremental_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total,
           ROUND(SUM(value) / COUNT(value), 2) AS avg,
           ROUND(CASE WHEN COUNT(value) >= 2 THEN SQRT(GREATEST(
               (SUM(value * value) - SUM(value) * SUM(value) / COUNT(value))
               / (COUNT(value) - 1), 0.0)) END, 2) AS sd,
           ROUND(MIN(value), 2) AS lo,
           ROUND(MAX(value), 2) AS hi
    FROM events
    GROUP BY 1
    """,
    tags=("incremental", "agg", "rollup"),
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation proof: the events table is split into three
    disjoint 'arrival batches' (by event_id mod), each batch is aggregated
    INDEPENDENTLY into a mergeable state, the states are merged pairwise
    (tree order, not list order — merging is associative), and read-time
    stats derive from the merged state. The oracle aggregates everything
    directly — hash-equality proves the incremental path loses nothing,
    which is what lets a 100 TB rollup update by shuffling only the new
    batch (operators/incremental.py). The ``sd`` column exercises the
    sum-of-squares state: sample stddev derived at READ time from the
    merged (n, total, ss) monoid — the oracle replays the same identity
    from SUM(value*value)."""
    from pontem_spark.operators.incremental import (
        finalize,
        merge_states,
        rollup_state,
    )

    events = load_table(spark, sf_dir, "events")
    # pmod + coalesce: plain `% 3 == i` would silently drop null ids (null
    # predicate) and negative ids (Spark % keeps sign), breaking the
    # batches-partition-the-input invariant this query exists to prove
    split = F.pmod(F.coalesce(F.col("event_id"), F.lit(0)), F.lit(3))
    batches = [
        rollup_state(events.filter(split == i), ["event_type"], "value")
        for i in range(3)
    ]
    merged = merge_states(merge_states(batches[0], batches[1], ["event_type"]),
                          batches[2], ["event_type"])
    return finalize(merged, ["event_type"], round_digits=2)


@register(
    "q_cdc_scd2_status_history",
    oracle="""
    WITH base AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
               LAG(o_orderstatus) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS prev
        FROM orders
    ), surv AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus FROM base
        WHERE prev IS NULL OR prev IS DISTINCT FROM o_orderstatus
    )
    SELECT o_custkey, o_orderstatus,
           o_orderdate AS effective_from,
           LEAD(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS effective_to,
           LEAD(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
    FROM surv
    """,
)
def q_cdc_scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build from the order-status change stream:
    version-compression (lag) + interval stitching (lead) share ONE
    key-partitioned exchange — the filter between the two windows
    preserves partitioning (operators/sequences.py::scd2_intervals)."""
    from pontem_spark.operators.sequences import scd2_intervals

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus"
    )
    return scd2_intervals(
        orders, "o_custkey", ["o_orderdate", "o_orderkey"], ["o_orderstatus"]
    )


def _reconcile_oracle() -> str:
    from pontem_spark.operators.reconcile import row_hash_sql

    h = row_hash_sql(["o_custkey", "o_orderstatus", "o_orderpriority"])
    return f"""
    WITH oldt AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
        FROM orders WHERE o_orderkey % 97 <> 0
    ), newt AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0 THEN 'X-CHANGED'
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderkey % 101 <> 0
    ), o AS (SELECT o_orderkey, {h} AS h_old FROM oldt),
    n AS (SELECT o_orderkey, {h} AS h_new FROM newt),
    j AS (
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k, h_old, h_new
        FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    )
    SELECT CASE WHEN h_old IS NULL THEN 'added'
                WHEN h_new IS NULL THEN 'removed'
                WHEN h_old <> h_new THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM j GROUP BY 1
    """


@register("q_reconcile_snapshots", _reconcile_oracle())
def q_reconcile_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff summary between two deterministic order-table
    versions (simulated deletes/inserts/updates by orderkey residues):
    two map-side (key, md5 row-hash) projections + ONE full-outer join
    on the key — the shuffle carries hashes, never row bodies. Hash
    inputs are exact types only (the float-formatting trap is the
    caller's contract) (operators/reconcile.py::snapshot_diff)."""
    from pontem_spark.operators.reconcile import snapshot_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    old = orders.filter(F.col("o_orderkey") % 97 != 0)
    new = orders.filter(F.col("o_orderkey") % 101 != 0).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 89 == 0, F.lit("X-CHANGED")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    d = snapshot_diff(
        old, new, ["o_orderkey"], ["o_custkey", "o_orderstatus", "o_orderpriority"]
    )
    return d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n_keys"))


@register(
    "q_cdc_upsert_readback",
    oracle="""
    WITH init AS (
        SELECT o_orderkey, o_orderpriority, CAST(1 AS INT) AS version,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders WHERE o_orderkey % 5 <> 4
    ), batch AS (
        SELECT o_orderkey, o_orderpriority, CAST(2 AS INT) AS version,
               CAST(o_totalprice AS DOUBLE) + CAST(100.0 AS DOUBLE) AS price
        FROM orders WHERE o_orderkey % 2 = 0
    ), uni AS (
        SELECT * FROM init UNION ALL SELECT * FROM batch
    ), latest AS (
        SELECT o_orderkey, o_orderpriority, version, price,
               ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                  ORDER BY version DESC) AS rn
        FROM uni
    )
    SELECT o_orderpriority, version,
           COUNT(*) AS cnt,
           ROUND(SUM(price), 2) AS total_price
    FROM latest WHERE rn = 1
    GROUP BY o_orderpriority, version
    """,
)
def q_cdc_upsert_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC write path, end to end: an initial snapshot (80% of orders,
    version 1) is written through ``upsert_parquet``, then a CDC batch
    (every even orderkey, version 2, price bumped +100 — overlapping keys
    UPDATE, the even keys excluded from the snapshot INSERT) is MERGED
    into the same hive-partitioned table, and the result is read back
    from DISK and aggregated. The oracle replays latest_by_key over the
    union in SQL (row_number per key by version desc), so hash-equality
    proves the physical merge — dynamic partition overwrite, staging
    swap, read-back — loses and duplicates nothing.

    Scale shape: the merge reads only partitions the batch touches
    (``partitionOverwriteMode=dynamic``; untouched partitions' files are
    byte-identical afterwards, asserted by tests/test_io.py), so a daily
    CDC batch costs O(touched partitions), not O(table). The final
    aggregate is localCheckpoint-materialized so the temp table can be
    removed before the DataFrame is consumed.
    """
    from pontem_spark.functions.compat import rnd
    from pontem_spark.sources.writers import upsert_parquet

    orders = load_table(spark, sf_dir, "orders")
    init = orders.filter(F.col("o_orderkey") % 5 != 4).select(
        "o_orderkey",
        "o_orderpriority",
        F.lit(1).alias("version"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    batch = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        F.lit(2).alias("version"),
        (F.col("o_totalprice").cast("double") + F.lit(100.0)).alias("price"),
    )
    tmp = tempfile.mkdtemp(prefix="pontem_upsert_rb_")
    table = tmp + "/orders_cdc"
    try:
        upsert_parquet(
            spark, init, table,
            key_cols="o_orderkey", order_cols=["version"],
            partition_by=["o_orderpriority"],
        )
        upsert_parquet(
            spark, batch, table,
            key_cols="o_orderkey", order_cols=["version"],
            partition_by=["o_orderpriority"],
        )
        merged = spark.read.parquet(table)
        out = (
            merged.groupBy("o_orderpriority", "version")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                rnd(F.sum("price"), 2).alias("total_price"),
            )
        )
        # materialize the ~10-row aggregate so the returned frame no
        # longer references the temp files (same pattern as the
        # streaming-composition queries)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "q_maintenance_compaction_readback",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(CAST(value AS DOUBLE)), 2) AS total_value,
           CAST(4 AS INT) AS n_files
    FROM events WHERE value >= 100
    GROUP BY event_type
    """,
)
def q_maintenance_compaction_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, end to end: a filtered events slice is
    deliberately written as 16 small files (a micro-batch landing
    directory in miniature), ``compact_parquet`` rewrites it into
    exactly 4 files through the write-then-swap staging path, and the
    result is read back from DISK and aggregated. The oracle aggregates
    the same slice from the source table and pins ``n_files = 4`` as a
    literal — hash-equality proves the rewrite lost and duplicated
    nothing AND produced exactly the requested file count (the swap
    happened; the operator's return value is the physical ls).

    Scale shape: compaction is one round-robin repartition write — no
    aggregation, no driver materialization; the standing maintenance job
    every streaming ingest needs (sources/writers.py::compact_parquet;
    the sort_by range-clustering variant is pinned by tests/test_io.py).
    """
    import shutil
    import tempfile

    from pontem_spark.functions.compat import rnd
    from pontem_spark.sources.writers import compact_parquet

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") >= 100)
        .select("event_type", F.col("value").cast("double").alias("value"))
    )
    tmp = tempfile.mkdtemp(prefix="pontem_compact_rb_")
    table = tmp + "/events_slice"
    try:
        ev.repartition(16).write.mode("overwrite").parquet(table)
        n_files = compact_parquet(spark, table, target_files=4)
        back = spark.read.parquet(table)
        out = (
            back.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                rnd(F.sum("value"), 2).alias("total_value"),
            )
            .withColumn("n_files", F.lit(int(n_files)).cast("int"))
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
