"""Cross-SESSION re-attach contract for the S22 SimHash fingerprint
store and the near-dup cluster stores (VERDICT r11 "Next round #5").

The S21 band store already proves its second-session contract
(tests/test_minhash_store.py::test_store_reattaches_in_fresh_catalog:
valid files + empty catalog → attach, never rewrite). The SimHash and
cluster stores are plain fingerprint-keyed parquet — no catalog entry
to recreate — so their second-session contract is: a session that
FINDS a complete store must (a) not touch the store files (marker
mtime frozen) and (b) produce a read plan with no trace of the
expensive producer pass (the per-token md5 vote for SimHash; the
iterative CC solve and its candidate generator for clusters — a bare
FileScan of the stored label relation).

``spark.newSession()`` models the fresh session: separate session
state and temp catalog over the same JVM. The store paths are keyed
only by (corpus fingerprint, codec version) — nothing session-scoped
— so surviving a newSession() plus a path-level mtime freeze IS the
cross-session guarantee (a new process computes the identical key and
takes the identical complete-store branch).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark import plans
from smart_contract_database_builder_spark.plans.llm_ops import (
    _simhash_store_path,
    emb_neardup_components_stored,
    neardup_components_stored,
    simhash_fps_stored,
)

from conftest import SF_ORACLE


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_simhash_store_second_session_never_revotes(spark):
    """A fresh session finding a complete fingerprint store must read
    it as-is: marker untouched, and the consumer plan free of the
    corpus vote pass (no documents scan, no tokenizer, no md5)."""
    simhash_fps_stored(spark, SF_ORACLE).count()  # ensure built
    base = _simhash_store_path(SF_ORACLE)
    marker = os.path.join(base, "_STORE_COMPLETE")
    t0 = os.stat(marker).st_mtime_ns
    fresh = spark.newSession()
    df = plans.QUERIES["llm_simhash_hamming_pairs"].fn(fresh, SF_ORACLE)
    plan = _plan(df)
    assert os.stat(marker).st_mtime_ns == t0, "second session rewrote"
    assert "documents.parquet" not in plan
    assert "md5" not in plan, "second session re-votes the fingerprints"


def test_cluster_store_second_session_never_resolves(spark):
    """A fresh session finding a complete cluster store must get a
    bare parquet scan of the stored (doc, cluster_id) relation — no
    band-store candidate generator, no CC iteration artifacts."""
    neardup_components_stored(spark, SF_ORACLE).count()  # ensure built
    from smart_contract_database_builder_spark.sources.store_root import (
        store_root,
    )

    croot = os.path.join(store_root(), "cluster_store")
    stores = os.listdir(croot)
    markers = [
        os.path.join(croot, s, "_STORE_COMPLETE") for s in stores
    ]
    t0 = [os.stat(m).st_mtime_ns for m in markers]
    fresh = spark.newSession()
    comp = neardup_components_stored(fresh, SF_ORACLE)
    plan = _plan(comp, "simple")
    assert [os.stat(m).st_mtime_ns for m in markers] == t0
    assert plan.count("Exchange") == 0, "stored read path shuffles"
    assert "mh_bands" not in plan, "second session re-ran the generator"
    assert comp.count() > 0


def test_emb_cluster_store_second_session_never_resolves(spark):
    """Embedding-side twin of the cluster re-attach contract."""
    emb_neardup_components_stored(spark, SF_ORACLE).count()
    from smart_contract_database_builder_spark.sources.store_root import (
        store_root,
    )

    croot = os.path.join(store_root(), "emb_cluster_store")
    markers = [
        os.path.join(croot, s, "_STORE_COMPLETE")
        for s in os.listdir(croot)
    ]
    t0 = [os.stat(m).st_mtime_ns for m in markers]
    fresh = spark.newSession()
    comp = emb_neardup_components_stored(fresh, SF_ORACLE)
    plan = _plan(comp, "simple")
    assert [os.stat(m).st_mtime_ns for m in markers] == t0
    assert plan.count("Exchange") == 0
    assert "embeddings.parquet" not in plan, "second session re-bucketed"
    assert comp.count() > 0
