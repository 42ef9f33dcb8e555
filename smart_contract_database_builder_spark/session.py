"""SparkSession factory with scale-oriented defaults.

The engine is designed for a multi-executor cluster reading ~100 TB; the
defaults here (AQE on, skew-join handling, partition-size targets, Arrow
for the few Python stages) are the cluster settings — tests merely run
them on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local test harness; on a real cluster the same
# code runs with whatever master/conf spark-submit provides (getOrCreate
# never overrides an active session).
_DEFAULTS = {
    # Adaptive execution: runtime coalescing of shuffle partitions, skew-join
    # splitting, and dynamic join-strategy switching. Essential at 100 TB where
    # static partition counts are always wrong for some stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Fixed timezone so timestamp semantics match the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for pandas UDF / toPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: 128 MiB split target — good default for wide scans.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Keep timestamps as-is (no rebasing surprises on synthetic data).
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable by Spark;
    # read it as LONG nanos and convert in the loader (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Auto-broadcast threshold: 64 MiB. The TPC-H-ish dims (region, nation,
    # supplier, part, customer) stay broadcastable far past sf100.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Let the planner pick shuffled-hash over sort-merge when the build
    # side fits (optimization guide §9): skips the per-partition sort,
    # and AQE's skew/coalesce handling still applies. Size gating is the
    # broadcast threshold above, so a `-1` threshold (the tests' way of
    # forcing shuffle joins) still yields sort-merge.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Reliable-checkpoint hygiene for plans/materialize.pin(): reclaim
    # checkpoint files when their RDD is GC'd instead of leaking them
    # into the scratch dir for the JVM's lifetime.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}


def get_spark(
    app_name: str = "smart-contract-database-builder-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    when no cluster manager injected one. ``shuffle_partitions`` defaults to
    ``$SPARK_GRAFT_CPUS`` or 32 locally; on a cluster leave it unset and let
    AQE coalesce from a high initial count.
    """
    builder = SparkSession.builder.appName(app_name)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = builder.master(master or f"local[{cpus}]")

    conf = dict(_DEFAULTS)
    # Shuffle scratch must NOT live in default /tmp: tmp-cleaner eviction
    # deletes temp_shuffle_* files mid-job (observed: round-11 driver
    # bench rc=1 on exactly this). Only effective for a NEW JVM —
    # getOrCreate on an active session keeps its existing local dirs.
    try:
        from .sources.store_root import scratch_dir

        conf["spark.local.dir"] = scratch_dir()
    except Exception:
        pass  # unwritable tmpdir: fall back to Spark's default
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _cap_listing_parallelism(spark)
    return spark


_LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def _cap_listing_parallelism(spark: SparkSession) -> None:
    """Size the file-listing job to the task slots.

    A path list (or, with ``recursiveFileLookup``, a directory level)
    above ``parallelPartitionDiscovery.threshold`` (32) is listed by a
    Spark job with one task per path, capped only at this conf's
    default of 10000. A 200-dir contract tree thus lists in 200
    one-directory tasks, whose scheduling costs far more than the
    listing itself. One task per slot lists the same paths with no
    idle cores; on a cluster ``defaultParallelism`` is every executor
    core, so the listing stays parallel. A lower value set by the
    caller is kept.
    """
    slots = spark.sparkContext.defaultParallelism
    current = int(spark.conf.get(_LISTING_PARALLELISM, "10000"))
    if slots < current:
        spark.conf.set(_LISTING_PARALLELISM, str(slots))

