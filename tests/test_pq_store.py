"""Write-time IVF-PQ store (sources/pq_store.py +
llm_ivfpq_encoded_topk): the layout claims — partition pruning on the
coarse cell, no query-time encode — must be visible in the plan, and
the read path must agree exactly with the query-time-encoding twin.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark import plans
from smart_contract_database_builder_spark.plans.llm_ops import (
    _IVFPQ_NPROBE,
    _PQ_M,
    _pq_store_path,
)
from smart_contract_database_builder_spark.sources.tables import load_table

from conftest import SF_ORACLE


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_encoded_topk_matches_query_time_twin_exactly(spark):
    """Write-time encoding is a physical-layout change, not a semantic
    one: top-10 ids, cells and approximate distances must be identical
    to llm_ivfpq_topk's."""
    a = [
        (r["vec_id"], r["cell"], r["approx_d2"])
        for r in plans.QUERIES["llm_ivfpq_encoded_topk"]
        .fn(spark, SF_ORACLE)
        .collect()
    ]
    b = [
        (r["vec_id"], r["cell"], r["approx_d2"])
        for r in plans.QUERIES["llm_ivfpq_topk"].fn(spark, SF_ORACLE).collect()
    ]
    assert a == b and len(a) == 10


def test_encoded_topk_plan_prunes_partitions_and_never_reencodes(spark):
    """The read path must scan the codes store with a PartitionFilters
    entry on the cell key (unprobed cell directories never open), read
    only the code columns, and contain no embedding scan — the encode
    pass must not appear at query time."""
    df = plans.QUERIES["llm_ivfpq_encoded_topk"].fn(spark, SF_ORACLE)
    plan = _plan(df)
    lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln and "IN" in ln for ln in lines), plan
    # the candidate scan reads codes, not vectors: after the probe-cell
    # planning step the only parquet relation is the codes store
    assert "codes" in plan
    assert "embeddings.parquet" not in plan, "query path re-reads vectors"


def test_store_reused_across_invocations(spark):
    """Second invocation for the same (sf dir, corpus size) must reuse
    the store — the codes' file mtimes do not change."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    store = _pq_store_path(SF_ORACLE, emb.count())
    plans.QUERIES["llm_ivfpq_encoded_topk"].fn(spark, SF_ORACLE)
    marker = os.path.join(store, "codes", "_SUCCESS")
    t0 = os.path.getmtime(marker)
    plans.QUERIES["llm_ivfpq_encoded_topk"].fn(spark, SF_ORACLE)
    assert os.path.getmtime(marker) == t0


def test_codes_store_layout(spark):
    """One directory per coarse cell; rows carry exactly vec_id +
    _PQ_M sub-codes; nprobe bounds the partitions a query touches."""
    emb = load_table(spark, SF_ORACLE, "embeddings")
    store = _pq_store_path(SF_ORACLE, emb.count())
    plans.QUERIES["llm_ivfpq_encoded_topk"].fn(spark, SF_ORACLE)
    cells = [
        d
        for d in os.listdir(os.path.join(store, "codes"))
        if d.startswith("cell=")
    ]
    assert len(cells) >= _IVFPQ_NPROBE
    codes = spark.read.parquet(os.path.join(store, "codes"))
    assert set(codes.columns) == {"vec_id", "cell"} | {
        f"c{m}" for m in range(_PQ_M)
    }
    assert codes.count() == emb.count()


def test_store_key_changes_when_the_source_is_regenerated(tmp_path):
    """A corpus regenerated IN PLACE (same path, same row count,
    different bytes/mtime) must map to a DIFFERENT store key — stale
    codes silently serving a new corpus is the failure mode the
    fingerprint exists to prevent."""
    import os

    from smart_contract_database_builder_spark.sources.store_root import (
        source_fingerprint,
    )

    src = tmp_path / "embeddings.parquet"
    src.write_bytes(b"v1-bytes")
    fp1 = source_fingerprint(str(src))
    src.write_bytes(b"v2-bytes-longer")
    fp2 = source_fingerprint(str(src))
    assert fp1 != fp2
    # same size, different mtime also flips the key (rewrite-in-place)
    src.write_bytes(b"v3-bytes-longer")
    os.utime(src, ns=(1, 1))
    fp3 = source_fingerprint(str(src))
    assert fp3 not in (fp1, fp2)
