"""Write-time MinHash band store (sources/minhash_store.py +
llm_minhash_lsh_pairs_stored): the layout claims — exchange-free
bucket assembly from the bucketed catalog table, no query-time
signature pass — must be visible in the plan, and the read path must
agree exactly with the query-time twin.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark import plans
from smart_contract_database_builder_spark.plans.llm_ops import (
    _ensure_minhash_store,
    _minhash_store_path,
)
from smart_contract_database_builder_spark.sources import bucketing
from smart_contract_database_builder_spark.sources.bucketing import (
    bucket_spec,
    bucketed_table,
)
from smart_contract_database_builder_spark.sources.store_root import store_complete

from conftest import SF_ORACLE, jobs_during, num_buckets


def _plan(df, mode: str = "formatted") -> str:
    # "formatted" lists every operator twice (tree + details) — use
    # "simple" when COUNTING operator occurrences.
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def _bands_table(base: str) -> str:
    return bucketed_table("mh_bands", os.path.join(base, "bands"))


def _data_files(path: str) -> list[str]:
    return [f for f in os.listdir(path) if f.startswith("part-")]


def _pairs(name):
    def run(spark):
        return sorted(
            (r["doc_a"], r["doc_b"], r["n_shared_bands"])
            for r in plans.QUERIES[name].fn(spark, SF_ORACLE).collect()
        )

    return run


def test_stored_pairs_match_query_time_twin_exactly(spark):
    """Write-time banding is a physical-layout change, not a semantic
    one: the stored read path must return bit-identical candidate
    pairs (ids AND shared-band counts) to llm_minhash_lsh_pairs."""
    a = _pairs("llm_minhash_lsh_pairs_stored")(spark)
    b = _pairs("llm_minhash_lsh_pairs")(spark)
    assert a == b and len(a) > 0


def test_stored_plan_never_rereads_documents_and_preps_no_signature(spark):
    """After the store exists, the read path must scan the band store
    only: no documents.parquet relation, no tokenizer/shingle
    expressions (the signature pass must not appear at query time)."""
    plans.QUERIES["llm_minhash_lsh_pairs_stored"].fn(spark, SF_ORACLE)
    df = plans.QUERIES["llm_minhash_lsh_pairs_stored"].fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert "documents.parquet" not in plan, "query path re-reads the corpus"
    assert "regexp" not in plan and "split" not in plan, (
        "query path re-tokenizes"
    )
    assert "md5" not in plan, "query path re-hashes signatures"


def test_stored_plan_bucket_assembly_is_exchange_free(spark):
    """The bucketed layout pre-paid the (band_idx, key) shuffle: the
    only Exchange allowed in the whole read plan is the final
    pair-count aggregate over the expanded candidate pairs."""
    plans.QUERIES["llm_minhash_lsh_pairs_stored"].fn(spark, SF_ORACLE)
    df = plans.QUERIES["llm_minhash_lsh_pairs_stored"].fn(spark, SF_ORACLE)
    plan = _plan(df, "simple")
    assert plan.count("Exchange") == 1, plan


def test_store_reused_across_invocations(spark):
    """Second invocation for the same corpus must reuse the store —
    the store-level DONE marker's mtime does not change."""
    base = _minhash_store_path(SF_ORACLE)
    plans.QUERIES["llm_minhash_lsh_pairs_stored"].fn(spark, SF_ORACLE)
    marker = os.path.join(base, "_STORE_COMPLETE")
    t0 = os.path.getmtime(marker)
    plans.QUERIES["llm_minhash_lsh_pairs_stored"].fn(spark, SF_ORACLE)
    assert os.path.getmtime(marker) == t0


def test_store_reattaches_in_fresh_catalog(spark):
    """The files survive the session, the catalog entry does not: with
    the table dropped (a fresh session's state) but valid files on
    disk, the query must re-attach — with bucket metadata intact, so
    the exchange-free plan survives re-attachment — instead of
    rewriting."""
    base = _minhash_store_path(SF_ORACLE)
    table = _bands_table(base)
    plans.QUERIES["llm_minhash_lsh_pairs_stored"].fn(spark, SF_ORACLE)
    marker = os.path.join(base, "_STORE_COMPLETE")
    t0 = os.path.getmtime(marker)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    df = plans.QUERIES["llm_minhash_lsh_pairs_stored"].fn(spark, SF_ORACLE)
    assert os.path.getmtime(marker) == t0, "re-attach rewrote the store"
    assert _plan(df, "simple").count("Exchange") == 1


def test_half_built_store_is_rebuilt_not_served(spark, tmp_path, monkeypatch):
    """A store missing the _STORE_COMPLETE marker — the state a crash
    between the sigs and bands writes leaves behind — must be rebuilt,
    never attached (the pq_store completeness discipline)."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    base = _minhash_store_path(SF_ORACLE)
    table = _bands_table(base)
    # simulate the crash artifact: sigs written, bands+marker missing
    os.makedirs(os.path.join(base, "sigs"), exist_ok=True)
    open(os.path.join(base, "sigs", "_SUCCESS"), "w").close()
    assert not store_complete(base)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    pairs = _pairs("llm_minhash_lsh_pairs_stored")(spark)
    assert store_complete(base)
    assert pairs == _pairs("llm_minhash_lsh_pairs")(spark)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_stored_sigs_match_query_time_signatures(spark):
    """The persisted sigs table must agree bit-for-bit with the
    query-time signature pipeline (the calibration query's estimate
    side reads the store)."""
    from smart_contract_database_builder_spark.plans.llm_ops import (
        _tokens,
        _word_ngrams,
        fan_out_if_narrow,
        minhash_signatures,
        minhash_sigs_stored,
    )
    from smart_contract_database_builder_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    stored = {r["doc_id"]: tuple(r[f"m{i}"] for i in range(8))
              for r in minhash_sigs_stored(spark, SF_ORACLE).collect()}
    docs = load_table(spark, SF_ORACLE, "documents")
    toked = fan_out_if_narrow(docs.select("doc_id", _tokens().alias("t")))
    sh = toked.select("doc_id", F.explode(_word_ngrams(F.col("t"))).alias("s"))
    live = {r["doc_id"]: tuple(r[f"m{i}"] for i in range(8))
            for r in minhash_signatures(sh).collect()}
    assert stored == live and len(stored) > 0


def test_dedup_family_adopts_the_store(spark, tmp_path, monkeypatch):
    """The graph/verify family must route its candidate stage through
    the S21 store: with a fresh store root, running ONE family member
    builds the store exactly once, and every other member reuses it
    (marker mtime frozen) — no per-query signature pass remains."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    base = _minhash_store_path(SF_ORACLE)
    table = _bands_table(base)
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    assert not store_complete(base)
    plans.QUERIES["llm_triangle_counts"].fn(spark, SF_ORACLE).collect()
    marker = os.path.join(base, "_STORE_COMPLETE")
    t0 = os.path.getmtime(marker)
    for name in (
        "llm_pagerank_candidates",
        "llm_kcore_candidates",
        "llm_neardup_clusters",
        "llm_cluster_best_representative",
        "llm_minhash_estimate_calibration",
        "llm_incremental_neardup",
        "llm_train_split_leakage_aware",
    ):
        plans.QUERIES[name].fn(spark, SF_ORACLE).collect()
        assert os.path.getmtime(marker) == t0, f"{name} rebuilt the store"
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_cluster_store_built_once_and_reused(spark, tmp_path, monkeypatch):
    """The CC label relation persists in the cluster store: the first
    consumer builds it, later consumers (and repeat invocations) read
    the files without re-running the iterative solve."""
    from smart_contract_database_builder_spark.plans.llm_ops import (
        neardup_components_stored,
    )
    from smart_contract_database_builder_spark.sources.store_root import (
        store_root,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    table = _bands_table(_minhash_store_path(SF_ORACLE))
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    plans.QUERIES["llm_neardup_clusters"].fn(spark, SF_ORACLE).collect()
    roots = os.listdir(os.path.join(store_root(), "cluster_store"))
    assert len(roots) == 1
    marker = os.path.join(
        store_root(), "cluster_store", roots[0], "_STORE_COMPLETE"
    )
    t0 = os.path.getmtime(marker)
    plans.QUERIES["llm_cluster_best_representative"].fn(
        spark, SF_ORACLE
    ).collect()
    comp = neardup_components_stored(spark, SF_ORACLE)
    assert os.path.getmtime(marker) == t0
    assert comp.count() > 0
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")


def test_emb_cluster_store_built_once_and_reused(spark, tmp_path, monkeypatch):
    """The embedding-side cluster store mirrors the text side: first
    consumer builds (hyperplane LSH + cosine verify + CC solve), later
    invocations read the files (marker mtime frozen)."""
    from smart_contract_database_builder_spark.sources.store_root import (
        store_root,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    plans.QUERIES["llm_embedding_neardup_clusters"].fn(
        spark, SF_ORACLE
    ).collect()
    root = os.path.join(store_root(), "emb_cluster_store")
    stores = os.listdir(root)
    assert len(stores) == 1
    marker = os.path.join(root, stores[0], "_STORE_COMPLETE")
    t0 = os.path.getmtime(marker)
    out = plans.QUERIES["llm_embedding_neardup_clusters"].fn(
        spark, SF_ORACLE
    ).collect()
    assert os.path.getmtime(marker) == t0
    assert len(out) > 0


def test_store_build_budget(spark, tmp_path, monkeypatch):
    """Files and buckets follow the bytes: at sf0.01 the build writes
    one sigs file and one bucket file in at most 6 jobs, and attaching
    the written store in a fresh catalog fires no job at all."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    base = _minhash_store_path(SF_ORACLE)
    table = _bands_table(base)
    build = jobs_during(spark, lambda: _ensure_minhash_store(spark, SF_ORACLE))
    assert len(_data_files(os.path.join(base, "sigs"))) == 1
    assert len(_data_files(os.path.join(base, "bands"))) == 1
    assert len(build) <= 6, build
    spark.sql(f"DROP TABLE `{table}`")
    attach = jobs_during(spark, lambda: _ensure_minhash_store(spark, SF_ORACLE))
    assert attach == []
    assert num_buckets(spark, table) == 1
    spark.sql(f"DROP TABLE `{table}`")


def test_unbucketed_stores_write_one_file_at_test_scale(
    spark, tmp_path, monkeypatch
):
    """The verified pairs, the SimHash prints and the cluster map are
    cut by bytes too: one data file each at sf0.01."""
    from smart_contract_database_builder_spark.plans.llm_ops import (
        _ensure_jaccard_store,
        _simhash_store_path,
        neardup_components_stored,
        simhash_fps_stored,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    pairs = _ensure_jaccard_store(spark, SF_ORACLE)
    simhash_fps_stored(spark, SF_ORACLE)
    neardup_components_stored(spark, SF_ORACLE)
    (cluster,) = os.listdir(os.path.join(tmp_path, "cluster_store"))
    for d in (
        pairs,
        os.path.join(_simhash_store_path(SF_ORACLE), "fps"),
        os.path.join(tmp_path, "cluster_store", cluster, "components"),
    ):
        assert len(_data_files(d)) == 1, d
    spark.sql(
        f"DROP TABLE IF EXISTS `{_bands_table(_minhash_store_path(SF_ORACLE))}`"
    )


def test_bucket_spec_is_the_one_source_of_the_count(
    spark, tmp_path, monkeypatch
):
    """A store built under a small byte target has several buckets and
    the query-time twin's pairs; with the target restored, a fresh
    attach still takes the count written with the files (not one
    recomputed from today's rule) and returns the same pairs."""
    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    base = _minhash_store_path(SF_ORACLE)
    table = _bands_table(base)
    target = bucketing._BUCKET_BYTES
    monkeypatch.setattr(bucketing, "_BUCKET_BYTES", 16 * 1024)
    small = _pairs("llm_minhash_lsh_pairs_stored")(spark)
    written = bucket_spec(os.path.join(base, "bands"))["buckets"]
    assert written > 1
    assert num_buckets(spark, table) == written
    assert small == _pairs("llm_minhash_lsh_pairs")(spark)

    monkeypatch.setattr(bucketing, "_BUCKET_BYTES", target)
    marker = os.path.join(base, "_STORE_COMPLETE")
    t0 = os.path.getmtime(marker)
    spark.sql(f"DROP TABLE `{table}`")
    assert _pairs("llm_minhash_lsh_pairs_stored")(spark) == small
    assert os.path.getmtime(marker) == t0, "re-attach rewrote the store"
    assert num_buckets(spark, table) == written
    spark.sql(f"DROP TABLE `{table}`")
