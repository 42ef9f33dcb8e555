"""Write-time SimHash fingerprint store (sources/simhash_store.py +
simhash_fps_stored): the stored prints must be bit-identical to the
query-time producer, the Hamming-pairs read path must never re-run the
corpus vote pass, and the build must happen once per corpus.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark import plans
from smart_contract_database_builder_spark.plans.llm_ops import (
    _simhash_store_path,
    simhash_fps_stored,
)
from smart_contract_database_builder_spark.sources.store_root import store_complete

from conftest import SF_ORACLE


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_stored_fps_match_query_time_producer_exactly(spark):
    """Write-time fingerprinting is a layout change, not a semantic
    one: the store must hold exactly llm_simhash_documents' prints."""
    stored = {
        r.doc_id: r.simhash
        for r in simhash_fps_stored(spark, SF_ORACLE).collect()
    }
    live = {
        r.doc_id: r.simhash
        for r in plans.QUERIES["llm_simhash_documents"]
        .fn(spark, SF_ORACLE)
        .select("doc_id", "simhash")
        .collect()
    }
    assert stored == live and len(stored) > 0


def test_hamming_pairs_read_path_skips_the_vote_pass(spark):
    """After the store exists, the Hamming-pairs plan must scan the
    fingerprint store only: no documents.parquet relation, no
    tokenizer, no per-token md5 vote expressions."""
    plans.QUERIES["llm_simhash_hamming_pairs"].fn(spark, SF_ORACLE)
    df = plans.QUERIES["llm_simhash_hamming_pairs"].fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert "documents.parquet" not in plan, "query path re-reads the corpus"
    assert "split" not in plan, "query path re-tokenizes"
    assert "md5" not in plan, "query path re-votes the fingerprints"


def test_store_is_built_once_and_reused(spark):
    """A second call must serve the same files: the store directory's
    mtime may not change across invocations in one session."""
    simhash_fps_stored(spark, SF_ORACLE).count()
    base = _simhash_store_path(SF_ORACLE)
    marker = os.path.join(base, "_STORE_COMPLETE")
    m0 = os.stat(marker).st_mtime_ns
    simhash_fps_stored(spark, SF_ORACLE).count()
    assert os.stat(marker).st_mtime_ns == m0


def test_half_built_store_is_rebuilt_not_served(spark, tmp_path, monkeypatch):
    """Parquet files without the _STORE_COMPLETE gate (a crashed
    build) must trigger a rebuild, never be served."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    base = _simhash_store_path(SF_ORACLE)
    # simulate a crash: fps files exist, no gate
    os.makedirs(os.path.join(base, "fps"), exist_ok=True)
    with open(os.path.join(base, "fps", "part-junk.parquet"), "w") as fh:
        fh.write("not parquet")
    assert not store_complete(base)
    fps = simhash_fps_stored(spark, SF_ORACLE)
    assert fps.count() > 0
    assert store_complete(base)
