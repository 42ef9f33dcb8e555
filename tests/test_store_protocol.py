"""The one derived-store protocol (sources/store_root.py): every
write-time store is located by ``store_path``, built and gated by
``ensure_store``, and the bucketed ones are attached by
``bucketing.register_bucketed`` under a name keyed by the store
location.

Two guarantees live here: a live session that switches
``SPARK_GRAFT_STORE_ROOT`` builds and reads fresh stores under the new
root (catalog entries never outlive the location they point at), and
no engine module outside the protocol's two homes touches the marker,
the build dir, the root join or the bucketed DDL.
"""

from __future__ import annotations

import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from smart_contract_database_builder_spark import plans
from smart_contract_database_builder_spark.plans.llm_ops import (
    _N_PLANES,
    _emb_bucket_store_path,
    _minhash_store_path,
)
from smart_contract_database_builder_spark.plans.scale_ops import (
    _bucket_store_path,
)
from smart_contract_database_builder_spark.sources.store_root import (
    store_complete,
)

from conftest import SF_ORACLE
from test_oracle_parity import canonicalize

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "smart_contract_database_builder_spark",
)

#: stored query -> its store's location under the CURRENT root
_STORED = {
    "llm_minhash_lsh_pairs_stored": lambda: _minhash_store_path(SF_ORACLE),
    "llm_incremental_embedding_admission_stored": lambda: (
        _emb_bucket_store_path(SF_ORACLE, _N_PLANES)
    ),
    "join_bucketed_priority_revenue": lambda: _bucket_store_path(SF_ORACLE),
}


def test_store_root_switch_rebuilds_under_the_new_root(
    spark, oracle, tmp_path, monkeypatch
):
    """Build every bucketed store under root A, delete A, switch the
    root to B in the same session: each query must build a complete
    store under B and still match its oracle — never read a catalog
    table that points at A's deleted files."""
    root_a, root_b = tmp_path / "a", tmp_path / "b"
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(root_a))
    for name in _STORED:
        plans.QUERIES[name].fn(spark, SF_ORACLE).collect()
    shutil.rmtree(root_a)

    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(root_b))
    for name, path in _STORED.items():
        spec = plans.QUERIES[name]
        got = canonicalize(spec.fn(spark, SF_ORACLE).toPandas())
        want = canonicalize(oracle.execute(spec.oracle).df())
        assert len(got) > 0, name
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=True
        )
        assert path().startswith(str(root_b)), name
        assert store_complete(path()), f"{name}: no complete store under B"


def _engine_sources() -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(_PKG):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, _PKG)] = open(p).read()
    return out


def _hits(pattern: str) -> set[str]:
    rx = re.compile(pattern)
    return {rel for rel, src in _engine_sources().items() if rx.search(src)}


def test_store_protocol_lives_in_one_place():
    """The completeness marker, the build-dir/publish calls and the
    store-root join appear only in sources/store_root.py; the bucketed
    writer and its DDL only in sources/bucketing.py; and no per-store
    completeness function survives anywhere."""
    home = os.path.join("sources", "store_root.py")
    assert _hits(r"_STORE_COMPLETE") == {home}
    assert _hits(r"\bbuild_tmp\(") == {home}
    assert _hits(r"\bpublish_build\(") == {home}
    assert _hits(r"\bstore_root\(\)") == {home}
    buckets = os.path.join("sources", "bucketing.py")
    assert _hits(r"CLUSTERED BY") == {buckets}
    assert _hits(r"\.bucketBy\(") == {buckets}
    assert _hits(r"def \w*_store_complete\b|def mark_\w*_complete\b") == set()


def test_warm_store_reads_run_no_job(spark):
    """Each plain store table, the IVF-PQ cells and codes included, is
    read with the schema its writer recorded next to the files
    (``bucketing.read_table``): once the store exists, building the
    read frame runs no Spark job — no schema-inference pass per read."""
    from conftest import jobs_during
    from smart_contract_database_builder_spark.plans.llm_ops import (
        _ngram_jaccard_pairs_stored,
        minhash_sigs_stored,
        neardup_components_stored,
        simhash_fps_stored,
    )

    for read in (
        minhash_sigs_stored,
        _ngram_jaccard_pairs_stored,
        simhash_fps_stored,
        neardup_components_stored,
    ):
        read(spark, SF_ORACLE)  # builds the store on first use
        assert jobs_during(spark, lambda: read(spark, SF_ORACLE)) == [], (
            read.__name__
        )

    # the IVF-PQ store: the cell table and the cell-partitioned codes
    from smart_contract_database_builder_spark.plans.llm_ops import (
        _pq_store_path,
        llm_ivfpq_encoded_topk,
    )
    from smart_contract_database_builder_spark.sources.pq_store import (
        read_pq_cells,
        read_pq_codes,
    )
    from smart_contract_database_builder_spark.sources.tables import load_table

    llm_ivfpq_encoded_topk(spark, SF_ORACLE)  # builds the store
    n = load_table(spark, SF_ORACLE, "embeddings").count()
    store = _pq_store_path(SF_ORACLE, n)
    for read in (read_pq_cells, read_pq_codes):
        assert jobs_during(spark, lambda: read(spark, store)) == [], (
            read.__name__
        )
