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

Bucket-count rule, in code: ``bucket_count(bytes)`` =
max(1, ceil(bytes / 128 MiB)) of the table's input. A bucketed store
sizes its count from its own input when it is built; both join sides
of a co-located join must use the SAME count (or a divisor, with
``spark.sql.bucketing.coalesceBucketsInJoin``), so the fact tables
pass one explicit count. Writing N output files per task × buckets is
the known small-files hazard — repartition by the bucket key before
writing so each task owns whole buckets.

The bucket spec travels with the files: ``write_bucketed`` leaves a
``_BUCKET_SPEC`` file (count, keys, schema) in the table dir after the
data files (Spark skips ``_``-prefixed files), and
``register_bucketed`` attaches the table from that file alone. The
writer and the attach can never disagree on the count, and the attach
runs no schema-inference job. An unbucketed store table
(``write_table``) leaves the same file with no buckets and no keys,
and ``read_table`` reads it with the recorded schema: a warm store
read fires no job either.

This module is the one writer and reader of every store table: the
bucketed ones (the fact tables, the MinHash bands, the hyperplane
buckets) and the plain ones (the MinHash signatures, the verified
pairs, the SimHash prints, the cluster map, the IVF-PQ cell table; the
cell-partitioned IVF-PQ codes leave the same spec file and are read
with ``read_table`` too); the stores' build gate
and publish are ``store_root.ensure_store``'s. Demonstrated and
plan-asserted (no Exchange in the joined plan) in
tests/test_bucketing_layout.py.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Target input bytes per bucket.
_BUCKET_BYTES = 128 * 1024 * 1024
#: The spec file ``write_bucketed`` leaves next to the data files.
_SPEC = "_BUCKET_SPEC"


def bucket_count(n_bytes: int) -> int:
    """Buckets for a table whose input is ``n_bytes`` long."""
    return max(1, math.ceil(n_bytes / _BUCKET_BYTES))


def data_bytes(path: str) -> int:
    """Bytes of the parquet data at ``path``: the file itself, or
    every data file under the dir (``_``/``.``-prefixed markers, specs
    and checksums are not data)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


def bucketed_table(prefix: str, path: str) -> str:
    """Session-catalog name of the bucketed table stored at ``path``.
    Keyed by the location, not by the input: a store rebuilt under
    another root or fingerprint gets a new name, so a live session
    never reads a table that still points at the old files."""
    return f"{prefix}_{hashlib.md5(path.encode()).hexdigest()[:12]}"


def write_bucketed(
    df: DataFrame, path: str, keys: tuple[str, ...], n_buckets: int
) -> None:
    """Persist ``df`` as bucketed+sorted parquet files at ``path``,
    then its bucket spec as ``_BUCKET_SPEC``.

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
    _write_spec(df, path, n_buckets, keys)


def write_table(df: DataFrame, path: str) -> None:
    """Persist ``df`` as plain parquet at ``path`` in as many files as
    its bytes need (AQE's rebalance cuts advisory-size partitions),
    then its spec (no buckets) as ``_BUCKET_SPEC``."""
    df.hint("rebalance").write.parquet(path, mode="overwrite")
    _write_spec(df, path, 0, ())


def _write_spec(
    df: DataFrame, path: str, n_buckets: int, keys: tuple[str, ...]
) -> None:
    spec = {"buckets": n_buckets, "keys": list(keys),
            "schema": df.schema.jsonValue()}
    with open(os.path.join(path, _SPEC), "w") as fh:
        json.dump(spec, fh)


def bucket_spec(path: str) -> dict:
    """The ``{"buckets", "keys", "schema"}`` spec written with the
    store table at ``path``."""
    with open(os.path.join(path, _SPEC)) as fh:
        return json.load(fh)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """The ``write_table`` table at ``path``, read with the schema its
    writer recorded, so building the frame runs no job."""
    schema = StructType.fromJson(bucket_spec(path)["schema"])
    return spark.read.schema(schema).parquet(path)


def register_bucketed(spark: SparkSession, prefix: str, path: str) -> str:
    """Attach the bucketed files at ``path`` to the session catalog
    and return the table name (``bucketed_table``); an entry of that
    name is reused as is. The files survive across sessions, the
    in-memory catalog entry does not, so every new session attaches
    instead of rewriting. The DDL declares the bucket spec the writer
    recorded next to the files (the catalog's bucket metadata, not
    the files, is what lets the planner prove co-partitioning), so
    the attach cannot disagree with the writer and infers nothing."""
    table = bucketed_table(prefix, path)
    if not spark.catalog.tableExists(table):
        spec = bucket_spec(path)
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in StructType.fromJson(spec["schema"])
        )
        ks = ", ".join(f"`{k}`" for k in spec["keys"])
        spark.sql(
            f"CREATE TABLE `{table}` ({cols}) USING parquet "
            f"CLUSTERED BY ({ks}) SORTED BY ({ks}) "
            f"INTO {spec['buckets']} BUCKETS LOCATION '{path}'"
        )
    return table


def co_located_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key — the
    catalog metadata lets Spark prove co-partitioning, so the plan
    carries no Exchange on either side."""
    return spark.table(left_table).join(spark.table(right_table), key)
