"""Round-12 fix pins (VERDICT r11 tasks #1-2 + ADVICE items).

- llm_contrastive_pairs' anchor batch is STRUCTURALLY bounded at
  _CP_K rows (was corpus-proportional ``vec_id % 40``): the driver
  collect and the task-closure matrix stay O(K·D) at any corpus size.
- the empty-corpus guard: a 0-row embeddings table must return an
  empty frame, not crash inside the Arrow kernel on ``X @ A.T``.
- scratch_dir(): spark.local.dir scratch under the verified per-user
  store root (the round-11 driver bench died on /tmp eviction of
  temp_shuffle_* files).
- publish_build(): the rename fallback must never return silently
  with no complete store at the final path.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark.plans import llm_ops
from smart_contract_database_builder_spark.sources.store_root import (
    build_tmp,
    publish_build,
    scratch_dir,
    store_root,
)

from conftest import SF_ORACLE

SF_TINY = "/root/testdata/sf0.001"


def test_contrastive_anchor_count_is_fixed_k(spark):
    """The anchor set is the _CP_K smallest-md5 vec_ids — so the number
    of distinct query_ids is ≤ _CP_K at EVERY scale factor. A
    corpus-proportional slice (the old % 40) would grow 10× between
    sf0.001 and sf0.01; the fixed-K pick must not."""
    fn = llm_ops.llm_contrastive_pairs
    for sf in (SF_TINY, SF_ORACLE):
        n_anchors = (
            fn(spark, sf).select("query_id").distinct().count()
        )
        assert 0 < n_anchors <= llm_ops._CP_K, (sf, n_anchors)


def test_contrastive_empty_corpus_returns_empty(spark, tmp_path):
    """0-row embeddings: the kernel must not be built at all (an empty
    anchor matrix would raise ValueError in ``X @ A.T``)."""
    from smart_contract_database_builder_spark.sources.tables import (
        TESTDATA_SCHEMAS,
    )

    sf_dir = str(tmp_path)
    empty = spark.createDataFrame([], TESTDATA_SCHEMAS["embeddings"])
    empty.write.parquet(f"{sf_dir}/embeddings.parquet")
    out = llm_ops.llm_contrastive_pairs(spark, sf_dir)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "role", "vec_id", "cosine", "rnk",
    ]


def test_scratch_dir_under_store_root(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_STORE_ROOT", raising=False)
    s = scratch_dir()
    assert os.path.isdir(s)
    assert s.startswith(store_root())


def test_scratch_dir_env_override(tmp_path, monkeypatch):
    override = str(tmp_path / "scratch")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", override)
    assert scratch_dir() == override
    assert os.path.isdir(override)


def test_publish_build_raises_without_complete_store(tmp_path, monkeypatch):
    """If both renames fail and no complete store stands at `final`,
    publish_build must raise — a silent return would leave every
    caller reading a missing path with an opaque parquet error."""
    import smart_contract_database_builder_spark.sources.store_root as sr

    final = str(tmp_path / "store")
    t = build_tmp(final)
    open(os.path.join(t, "_STORE_COMPLETE"), "w").close()

    def always_fail(src, dst):
        raise OSError("simulated rename failure")

    monkeypatch.setattr(sr.os, "rename", always_fail)
    with pytest.raises(RuntimeError, match="no complete store"):
        publish_build(t, final)


def test_bench_session_sets_local_dir(monkeypatch):
    """bench.py's session must point spark.local.dir away from bare
    /tmp. The bench builds through ``session.get_spark``, so it also
    carries the engine defaults, plus its own heap and log settings;
    the builder's options are captured before any session starts."""
    import bench
    from pyspark.sql import SparkSession

    class Captured(Exception):
        pass

    seen = {}

    def capture(builder):
        seen.update(builder._options)
        raise Captured

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_MEM", "3g")
    with pytest.raises(Captured):
        bench._build_session("2")
    assert seen["spark.local.dir"] == scratch_dir()
    assert seen["spark.master"] == "local[2]"
    assert seen["spark.sql.shuffle.partitions"] == "2"
    assert seen["spark.driver.memory"] == "3g"
    assert seen["spark.ui.enabled"] == "false"
    assert "stderr" in seen["spark.driver.extraJavaOptions"]
    assert seen["spark.cleaner.referenceTracking.cleanCheckpoints"] == "true"
