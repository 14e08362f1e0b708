"""SparkSession construction tuned for the pontem-spark engine.

The reference (milesgranger/pontem, ``pontem/series/series.py:45-49``) lazily
creates a bare ``SparkContext(master='local[*]')`` with no SQL tuning at all.
Here the session is built once, SQL-first, with the knobs that matter at
100 TB scale:

- **AQE on** (runtime re-plan: partition coalescing, skew-join splitting,
  dynamic broadcast) — the single biggest lever for unknown data shapes.
- **Arrow on** for any pandas interchange (the slow path, when we must).
- ``spark.sql.shuffle.partitions`` sized from the core count locally; on a
  real cluster AQE's coalescing makes the initial number far less sensitive.
- Parquet filter pushdown / column pruning are Spark defaults — we keep them
  on explicitly so a misconfigured base profile can't silently disable them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_parallelism", "cluster_conf"]

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gib: int = 16,
) -> dict[str, str]:
    """Recommended conf for a real cluster run of this engine (documentation
    as code; local get_spark() uses the same principles at local scale).

    Sizing logic for the defaults (1000 executors x 4 cores):
    - shuffle partitions ~ 2x total cores: enough granularity for AQE to
      coalesce DOWN (cheap) without ever needing to split UP (impossible);
    - 256 MiB advisory partition size: post-shuffle target AQE coalesces to;
    - 128 MiB input splits: bounded per-task memory against ~16 GiB
      executors with 4 concurrent tasks;
    - broadcast threshold 64 MiB: with 4 GiB/core there is room to broadcast
      aggressively — every broadcast join is a shuffle avoided;
    - skew thresholds: split any shuffle partition 2x the median and
      > 256 MiB (AQE skew-join defaults are conservative at this scale).
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(256 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(256 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.executor.memory": f"{executor_mem_gib}g",
        "spark.executor.cores": str(cores_per_executor),
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.session.timeZone": "UTC",
    }


def default_parallelism() -> int:
    """Cores the driver asked us to use (SPARK_GRAFT_CPUS, default 32)."""
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def get_spark(
    app_name: str = "pontem-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``. On a real cluster the
    caller passes its own master / lets spark-submit supply it; every other
    setting below is cluster-safe.
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local rule of thumb: ~1 shuffle partition per core. On a cluster AQE
        # coalesces, so a higher static number (e.g. 2-3x total cores) is fine.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: the scale-survival kit -------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 128 MiB input splits: big enough to amortize task overhead, small
        # enough that a partition's working set fits executor memory.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- python interchange --------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- scan hygiene (defaults, pinned) -------------------------------
        .config("spark.sql.parquet.filterPushdown", "true")
        # Read TIMESTAMP(NANOS) parquet as raw nanos (LongType); loaders
        # convert to micros — Spark has no nanosecond TimestampType.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # sane timestamp behavior across engines
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PONTEM_DRIVER_MEM", "16g"))
        # Iterative operators (pagerank/k-core/LPA/CC) localCheckpoint every
        # round; superseded rounds' blocks are only freed after a DRIVER GC
        # lets ContextCleaner see the dead RDD reference, and the default
        # periodicGC.interval of 30min means a long session leaks them.
        # 10min, NOT shorter: a 45s interval measured +11% on the bench
        # suite (System.gc stalls all cores; the +1s spread hit even pure
        # SQL queries), while 10min still reclaims within any long session
        # and fires zero times inside a ~200s suite. (Hygiene, not the
        # 100x-pagerank fix — that footprint is ONE live |E| checkpoint,
        # addressed by heap sizing in tools/scale_step.py.)
        .config("spark.cleaner.periodicGC.interval", "10min")
    )
    extra = dict(extra_conf or {})
    # --- python workers ----------------------------------------------------
    # A UDF that imports pontem_spark finds it in the directory holding this
    # package, whatever the driver's cwd. A caller's own worker PYTHONPATH
    # comes first; Spark merges it with pyspark's own paths, and Python
    # skips an entry that does not exist on an executor.
    worker_path = [extra.pop("spark.executorEnv.PYTHONPATH", ""), _PACKAGE_PARENT]
    builder = builder.config(
        "spark.executorEnv.PYTHONPATH", os.pathsep.join(p for p in worker_path if p)
    )
    for k, v in extra.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
