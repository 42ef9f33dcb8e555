"""Bucketed co-located joins: the pay-the-shuffle-once layout must
actually eliminate exchanges, and keep answers identical to the plain
shuffled join."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from pyspark.sql import functions as F

from smart_contract_database_builder_spark.sources.bucketing import (
    bucket_spec,
    co_located_join,
    register_bucketed,
    write_bucketed,
)
from smart_contract_database_builder_spark.sources.tables import load_table

from conftest import SF_SMOKE, jobs_during, num_buckets


@pytest.fixture(scope="module")
def bucketed_root(tmp_path_factory):
    return tmp_path_factory.mktemp("bucketed")


@pytest.fixture(scope="module")
def bucketed_tables(spark, bucketed_root):
    root = bucketed_root
    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    keys = ("o_orderkey",)
    write_bucketed(orders, str(root / "orders"), keys, 4)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        str(root / "lineitem"),
        keys,
        4,
    )
    tables = (
        register_bucketed(spark, "b_orders", str(root / "orders")),
        register_bucketed(spark, "b_lineitem", str(root / "lineitem")),
    )
    yield tables
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    left, right = bucketed_tables
    # at test SF the planner would broadcast (cheaper than ANY shuffle
    # strategy, bucketed or not) — disable it to surface the plan the
    # layout exists for: fact⋈fact at a scale where broadcast is off
    # the table and co-partitioning must come from the catalog
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        joined = co_located_join(spark, left, right, "o_orderkey").select(
            "o_orderkey", "o_totalprice", "l_quantity"
        )
        joined.collect()  # final adaptive plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # and the scans really use the bucketed layout
        assert "Bucketed: true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    left, right = bucketed_tables
    bucketed = co_located_join(spark, left, right, "o_orderkey")
    plain = load_table(spark, SF_SMOKE, "orders").join(
        load_table(spark, SF_SMOKE, "lineitem").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        ),
        "o_orderkey",
    )
    b = bucketed.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
    ).collect()[0]
    p = plain.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
    ).collect()[0]
    assert tuple(b) == tuple(p)


def test_bucketed_scan_prunes_columns(spark, bucketed_tables):
    """Bucketing must not cost the scan its column pruning."""
    left, _ = bucketed_tables
    df = spark.table(left).select("o_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "o_comment" not in plan


def test_attach_takes_the_written_spec(spark, bucketed_tables, bucketed_root):
    """The catalog entry is rebuilt from the ``_BUCKET_SPEC`` file the
    writer left with the data: a fresh attach keeps the written count
    and keys and fires no Spark job (no schema inference)."""
    left, _ = bucketed_tables
    path = str(bucketed_root / "orders")
    spec = bucket_spec(path)
    assert (spec["buckets"], spec["keys"]) == (4, ["o_orderkey"])
    spark.sql(f"DROP TABLE `{left}`")
    assert jobs_during(
        spark, lambda: register_bucketed(spark, "b_orders", path)
    ) == []
    assert num_buckets(spark, left) == 4
