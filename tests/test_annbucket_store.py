"""Write-time hyperplane-bucket store (S23, sources/annbucket_store.py
+ llm_incremental_embedding_admission_stored): stored rows must be
bit-identical to the query-time encode, the read path must never
re-encode the corpus, builds happen once and re-attach across
sessions, and a half-built store is rebuilt, never served.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark import plans
from smart_contract_database_builder_spark.plans.llm_ops import (
    _N_PLANES,
    _emb_bucket_store_path,
)
from smart_contract_database_builder_spark.sources.bucketing import bucketed_table
from smart_contract_database_builder_spark.sources.store_root import store_complete

from conftest import SF_ORACLE


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def _buckets_table(base: str) -> str:
    return bucketed_table("emb_buckets", os.path.join(base, "buckets"))


def _decisions(name, spark):
    return sorted(
        (r.vec_id, r.n_corpus_neighbors, r.admitted)
        for r in plans.QUERIES[name].fn(spark, SF_ORACLE).collect()
    )


def test_stored_admission_matches_query_time_twin_exactly(spark):
    """Write-time encoding is a physical-layout change, not a semantic
    one: identical decisions AND neighbor counts."""
    a = _decisions("llm_incremental_embedding_admission_stored", spark)
    b = _decisions("llm_incremental_embedding_admission", spark)
    assert a == b and len(a) > 0


def test_stored_read_path_never_reencodes_the_corpus(spark):
    """After the store exists, the CORPUS side must come from the
    catalog table; only the BATCH slice — which in production is a
    new incoming set that cannot exist in a write-time store — is
    encoded from embeddings.parquet at query time. The stored plan
    therefore scans the store table and touches the parquet strictly
    fewer times than the query-time twin (which encodes both
    sides)."""
    plans.QUERIES["llm_incremental_embedding_admission_stored"].fn(
        spark, SF_ORACLE
    )
    df = plans.QUERIES["llm_incremental_embedding_admission_stored"].fn(
        spark, SF_ORACLE
    )
    plan = _plan(df)
    assert "emb_buckets_" in plan, "corpus side does not read the store"
    twin = _plan(
        plans.QUERIES["llm_incremental_embedding_admission"].fn(
            spark, SF_ORACLE
        )
    )
    n_stored = plan.count("embeddings.parquet")
    n_twin = twin.count("embeddings.parquet")
    assert 0 < n_stored < n_twin, (n_stored, n_twin)
    # and the quantization work shrinks accordingly (batch slice only)
    assert plan.count("decimal(18,6)") < twin.count("decimal(18,6)")


def test_store_built_once_and_reattaches_in_fresh_catalog(spark):
    """Second invocation reuses (marker mtime frozen); a fresh session
    (catalog table dropped) re-ATTACHES the files instead of
    re-encoding."""
    base = _emb_bucket_store_path(SF_ORACLE, _N_PLANES)
    table = _buckets_table(base)
    plans.QUERIES["llm_incremental_embedding_admission_stored"].fn(
        spark, SF_ORACLE
    ).collect()
    marker = os.path.join(base, "_STORE_COMPLETE")
    t0 = os.stat(marker).st_mtime_ns
    plans.QUERIES["llm_incremental_embedding_admission_stored"].fn(
        spark, SF_ORACLE
    ).collect()
    assert os.stat(marker).st_mtime_ns == t0
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    out = plans.QUERIES["llm_incremental_embedding_admission_stored"].fn(
        spark, SF_ORACLE
    )
    assert os.stat(marker).st_mtime_ns == t0, "re-attach rewrote the store"
    assert out.count() > 0
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_half_built_store_is_rebuilt_not_served(spark, tmp_path, monkeypatch):
    """Parquet files without the _STORE_COMPLETE gate (a crashed
    build) must trigger a rebuild, never be served."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    base = _emb_bucket_store_path(SF_ORACLE, _N_PLANES)
    table = _buckets_table(base)
    os.makedirs(os.path.join(base, "buckets"), exist_ok=True)
    with open(os.path.join(base, "buckets", "part-junk.parquet"), "w") as fh:
        fh.write("not parquet")
    assert not store_complete(base)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    out = plans.QUERIES["llm_incremental_embedding_admission_stored"].fn(
        spark, SF_ORACLE
    )
    assert out.count() > 0
    assert store_complete(base)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
