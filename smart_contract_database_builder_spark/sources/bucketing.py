"""Bucketed-table layout: persist the shuffle once, join forever (S5/J3
at warehouse scale).

The scans in ``tables.py`` read plain parquet, so every fact⋈fact join
(lineitem⋈orders on the order key) pays a full shuffle of both sides
per query. For keys that carry MANY downstream joins, the 100 TB answer
is to pay that shuffle once at write time: ``bucketBy(k, key)`` hashes
rows into a fixed bucket count persisted in the table metadata, and two
tables bucketed the same way join with ZERO exchanges — Spark proves
co-partitioning from the catalog and plans a local sort-merge join per
bucket pair. ``sortBy`` additionally pre-orders within buckets so even
the sort may be elided.

Bucket-count rule: fixed at write time (it IS the physical layout), so
pick for the target scale — buckets ≈ table_bytes / 128 MiB, rounded to
a multiple of the cluster's parallelism; both join sides must use the
SAME count (or a divisor, with ``spark.sql.bucketing.coalesceBucketsInJoin``)
for the exchange-free plan. Writing N output files per task × buckets
is the known small-files hazard — repartition by the bucket key before
writing so each task owns whole buckets.

This module is the one bucketed writer and the one catalog attach for
every bucketed store (the fact tables, the MinHash bands, the
hyperplane buckets); the stores' build gate and publish are
``store_root.ensure_store``'s. Demonstrated and plan-asserted (no
Exchange in the joined plan) in tests/test_bucketing_layout.py.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession


def bucketed_table(prefix: str, path: str) -> str:
    """Session-catalog name of the bucketed table stored at ``path``.
    Keyed by the location, not by the input: a store rebuilt under
    another root or fingerprint gets a new name, so a live session
    never reads a table that still points at the old files."""
    return f"{prefix}_{hashlib.md5(path.encode()).hexdigest()[:12]}"


def write_bucketed(
    df: DataFrame, path: str, keys: tuple[str, ...], n_buckets: int
) -> None:
    """Persist ``df`` as bucketed+sorted parquet files at ``path``.

    The pre-write ``repartition(n_buckets, *keys)`` aligns tasks with
    buckets: without it every task writes a file into every bucket
    (tasks × buckets small files). The writer needs a catalog entry;
    it gets a throwaway EXTERNAL one, dropped right after (the files
    stay), and the caller attaches the published location with
    ``register_bucketed``."""
    scratch = f"bucketed_build_{os.urandom(6).hex()}"
    (
        df.repartition(n_buckets, *keys)
        .write.format("parquet")
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(scratch)
    )
    df.sparkSession.sql(f"DROP TABLE IF EXISTS `{scratch}`")


def register_bucketed(
    spark: SparkSession,
    prefix: str,
    path: str,
    keys: tuple[str, ...],
    n_buckets: int,
) -> str:
    """Attach the bucketed files at ``path`` to the session catalog
    and return the table name (``bucketed_table``); an entry of that
    name is reused as is. The files survive across sessions, the
    in-memory catalog entry does not, so every new session attaches
    instead of rewriting. The DDL declares the writer's bucket spec
    (the catalog's bucket metadata, not the files, is what lets the
    planner prove co-partitioning), and the column schema is read
    from the files themselves so a writer-side schema change can
    never register a mismatched table."""
    table = bucketed_table(prefix, path)
    if not spark.catalog.tableExists(table):
        schema = spark.read.parquet(path).schema
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema
        )
        ks = ", ".join(f"`{k}`" for k in keys)
        spark.sql(
            f"CREATE TABLE `{table}` ({cols}) USING parquet "
            f"CLUSTERED BY ({ks}) SORTED BY ({ks}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    return table


def co_located_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key — the
    catalog metadata lets Spark prove co-partitioning, so the plan
    carries no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), key)
