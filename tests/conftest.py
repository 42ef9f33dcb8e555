"""Shared fixtures: one SparkSession per test run over a per-run store
root, DuckDB oracle helper, and the job/stage/task capture of the
budget tests."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers Spark starts inherit the environment, not sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from smart_contract_database_builder_spark import cli
from smart_contract_database_builder_spark.schemas import TABLE_NAMES
from smart_contract_database_builder_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session", autouse=True)
def per_run_store_root(tmp_path_factory):
    """A fresh derived-store root for this run: no store written by an
    earlier run or another checkout is ever attached. Tests that need
    their own root still monkeypatch ``SPARK_GRAFT_STORE_ROOT``."""
    root = str(tmp_path_factory.mktemp("stores"))
    os.environ["SPARK_GRAFT_STORE_ROOT"] = root
    return root


@pytest.fixture(scope="session")
def spark(per_run_store_root):
    spark = get_spark(app_name="scdb-spark-tests", master="local[4]",
                      shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's correctness harness."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    yield con
    con.close()


def jobs_during(
    spark, fn, group: str | None = None
) -> list[list[tuple[str, int]]]:
    """Run ``fn()`` under a job group (a fresh one by default); per job
    it started, in job-id order, its stages as (name, tasks)."""
    group = group or f"jobs_during_{os.urandom(6).hex()}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(job_id).stageIds]
        jobs.append([(s.name, s.numTasks) for s in stages if s is not None])
    return jobs


def jobs_of(spark, group: str, argv: list[str]) -> list[list[tuple[str, int]]]:
    """Run the CLI under a job group; per job started, in job-id order,
    its stages as (name, tasks)."""

    def run() -> None:
        assert cli.main(argv) == 0

    return jobs_during(spark, run, group)


def num_buckets(spark, table: str) -> int:
    """Bucket count the session catalog holds for ``table``."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED `{table}`").collect()
    return int(next(r.data_type for r in rows if r.col_name == "Num Buckets"))


def shuffle_rows_of(spark, group: str) -> list[list[int]]:
    """After ``jobs_of`` ran ``group``: per stage that ran tasks, in
    job-id then stage order, the shuffle rows each of its tasks read
    (a stage fed by a scan reads none)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stages = []
    for job_id in sorted(tracker.getJobIdsForGroup(group)):
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            tasks = store.taskList(stage_id, 0, 1 << 16)
            if tasks.size():
                stages.append([
                    tasks.apply(i).taskMetrics().get()
                    .shuffleReadMetrics().recordsRead()
                    for i in range(tasks.size())
                ])
    return stages
