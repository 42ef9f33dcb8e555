"""Write-time verified-Jaccard pair store (S24,
sources/jaccard_store.py + _ngram_jaccard_pairs_stored): stored rows
must be bit-identical to the query-time verify, the audit read paths
must never re-run the candidate×shingle join, builds happen once and
reuse across sessions, and a half-built store is rebuilt, never
served.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark import plans
from smart_contract_database_builder_spark.plans.llm_ops import (
    _ensure_jaccard_store,
    _jaccard_store_path,
    _ngram_jaccard_pairs_compute,
    _ngram_jaccard_pairs_stored,
)
from smart_contract_database_builder_spark.sources.store_root import store_complete

from conftest import SF_ORACLE


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_stored_pairs_match_query_time_verify_exactly(spark):
    """Write-time verification is a physical-layout change, not a
    semantic one: stored rows must be bit-identical (ids, shared
    counts, AND the jaccard doubles) to the query-time compute."""
    a = sorted(
        (r.doc_a, r.doc_b, r.n_shared, r.jaccard)
        for r in _ngram_jaccard_pairs_stored(spark, SF_ORACLE).collect()
    )
    b = sorted(
        (r.doc_a, r.doc_b, r.n_shared, r.jaccard)
        for r in _ngram_jaccard_pairs_compute(spark, SF_ORACLE).collect()
    )
    assert a == b and len(a) > 0


def test_audit_read_paths_never_rerun_the_verify(spark):
    """After the store exists, the three audit consumers must scan the
    pair parquet only: no documents.parquet relation, no tokenizer or
    signature expressions, no shingle intersection join."""
    _ensure_jaccard_store(spark, SF_ORACLE)
    for name in (
        "llm_dedup_threshold_sweep",
        "llm_cross_source_neardup_matrix",
        "llm_dedup_length_bias",
    ):
        df = plans.QUERIES[name].fn(spark, SF_ORACLE)
        plan = _plan(df)
        assert "md5" not in plan, f"{name}: re-hashes signatures"
        assert "regexp" not in plan, f"{name}: re-tokenizes"
        # matrix/bias legitimately join documents for source/n_chars;
        # the sweep must not touch text at all beyond the count
        assert "jaccard_store" in plan, f"{name}: does not read the S24 store"


def test_store_builds_once_and_reuses_across_sessions(spark):
    base = _jaccard_store_path(SF_ORACLE)
    _ensure_jaccard_store(spark, SF_ORACLE)
    marker = os.path.join(base, "_STORE_COMPLETE")
    t0 = os.stat(marker).st_mtime_ns
    _ensure_jaccard_store(spark, SF_ORACLE)
    assert os.stat(marker).st_mtime_ns == t0, "second use rebuilt the store"
    # a "fresh session" for a parquet store is just a fresh read — no
    # catalog entry to re-attach; the gate is purely the marker file
    out = _ngram_jaccard_pairs_stored(spark, SF_ORACLE)
    assert os.stat(marker).st_mtime_ns == t0
    assert out.count() > 0


def test_half_built_store_is_rebuilt_not_served(spark, tmp_path, monkeypatch):
    """Parquet files without the _STORE_COMPLETE gate (a crashed
    build) must trigger a rebuild, never be served."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    base = _jaccard_store_path(SF_ORACLE)
    # simulate a crash: pair files exist, marker does not
    os.makedirs(os.path.join(base, "pairs"), exist_ok=True)
    with open(os.path.join(base, "pairs", "part-00000.parquet"), "w") as fh:
        fh.write("garbage")
    path = _ensure_jaccard_store(spark, SF_ORACLE)
    assert store_complete(base)
    df = _ngram_jaccard_pairs_stored(spark, SF_ORACLE)
    assert df.count() > 0
    shutil.rmtree(base, ignore_errors=True)
    assert path  # silence lint


def test_geometry_or_codec_mismatch_never_serves_stale_pairs(
    spark, tmp_path, monkeypatch
):
    """A store built under a DIFFERENT bucket cap, banding geometry or
    verify codec must not be served: the cap/geometry/codec are part
    of the store KEY, so a mismatch resolves to a different path whose
    completeness gate is closed — the S21 band store's own guard,
    extended to S24 (VERDICT r13 #6)."""
    from smart_contract_database_builder_spark.plans import llm_ops

    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    base = _jaccard_store_path(SF_ORACLE)
    _ensure_jaccard_store(spark, SF_ORACLE)
    assert store_complete(base)

    # bucket-cap flip: different key, closed gate
    monkeypatch.setattr(llm_ops, "_LSH_BUCKET_CAP", llm_ops._LSH_BUCKET_CAP + 1)
    base_cap = _jaccard_store_path(SF_ORACLE)
    assert base_cap != base
    assert not store_complete(base_cap)
    monkeypatch.undo()

    # verify-codec bump: different key, closed gate
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    monkeypatch.setattr(
        llm_ops, "_JACCARD_CODEC_VERSION", llm_ops._JACCARD_CODEC_VERSION + 1
    )
    base_codec = _jaccard_store_path(SF_ORACLE)
    assert base_codec != base and base_codec != base_cap
    assert not store_complete(base_codec)
    monkeypatch.undo()

    # banding-geometry flip (rows per band): different key, closed gate
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    monkeypatch.setattr(llm_ops, "_BAND_ROWS", llm_ops._BAND_ROWS + 1)
    base_geom = _jaccard_store_path(SF_ORACLE)
    assert base_geom not in (base, base_cap, base_codec)
    assert not store_complete(base_geom)
    monkeypatch.undo()

    # and the matched key still reuses the one real build
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    marker = os.path.join(base, "_STORE_COMPLETE")
    t0 = os.stat(marker).st_mtime_ns
    _ensure_jaccard_store(spark, SF_ORACLE)
    assert os.stat(marker).st_mtime_ns == t0
    shutil.rmtree(str(tmp_path), ignore_errors=True)
