"""plans/materialize.pin: mode selection, result fidelity, and that it
is the engine's only checkpoint call.

``pin`` materializes a multi-consumer relation once. Locally it must be
an executor-local checkpoint (driver and executor share the process, so
reliable files buy nothing but a serialize round trip); under the
``spark.scdb.materialize.reliable`` override (the cluster behavior,
where the master check flips it on automatically) it must write real
checkpoint files to the session checkpoint dir. Both modes must return
exactly the input relation's rows, the iterative loops included, and
no builder may keep materialized state from one query run to the next.
"""

from __future__ import annotations

import ast
import os
import pathlib

from pyspark.sql import functions as F

from smart_contract_database_builder_spark.plans import QUERIES
from smart_contract_database_builder_spark.plans.llm_ops import (
    _BPE_MERGES,
    connected_components,
    connected_components_star,
)
from smart_contract_database_builder_spark.plans.materialize import pin

from conftest import SF_ORACLE, SF_SMOKE, jobs_during

_PKG = (
    pathlib.Path(__file__).resolve().parents[1]
    / "smart_contract_database_builder_spark"
)
_HOME = _PKG / "plans" / "materialize.py"

#: The relations that stay ``persist``-ed; plans/materialize.py says why.
_PERSISTED_IN = (
    "_km_state",
    "curate_documents",
    "llm_bigram_entropy_rate",
    "llm_pmi_collocations",
    "llm_token_entropy",
    "llm_unigram_surprisal",
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _checkpoint_dirs(spark) -> set[str]:
    """Directories holding files under the session checkpoint dir."""
    ckdir = spark.sparkContext.getCheckpointDir()
    if ckdir is None:
        return set()
    local = ckdir[len("file:"):] if ckdir.startswith("file:") else ckdir
    return {d for d, _, files in os.walk(local) if files}


def test_pin_local_mode_keeps_rows_and_skips_checkpoint_files(spark):
    spark.conf.unset("spark.scdb.materialize.reliable")
    df = spark.range(0, 1000).select(
        "id", (F.col("id") % 7).alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    before = _rows(df)
    out = pin(df)
    assert _rows(out) == before
    # local master ⇒ executor-local blocks; no reliable checkpoint dir
    # is forced into existence by the call
    assert spark.sparkContext.master.startswith("local")


def test_pin_reliable_override_writes_checkpoint_files(spark):
    spark.conf.set("spark.scdb.materialize.reliable", "true")
    try:
        df = spark.range(0, 500).select(
            "id", F.md5(F.col("id").cast("string")).alias("h")
        )
        before = _rows(df)
        out = pin(df)
        assert _rows(out) == before
        assert _checkpoint_dirs(spark), "no checkpoint files"
    finally:
        spark.conf.unset("spark.scdb.materialize.reliable")


def test_pin_reliable_result_is_recomputed_per_call(spark):
    """Two pins of the same plan must be independent materializations
    (RDD-instance keyed, never plan keyed) — the no-cross-run-caching
    property the bench relies on."""
    spark.conf.set("spark.scdb.materialize.reliable", "true")
    try:
        df = spark.range(0, 100).select("id")
        a, b = pin(df), pin(spark.range(0, 100).select("id"))
        assert _rows(a) == _rows(b)
        assert a.rdd.id() != b.rdd.id()
    finally:
        spark.conf.unset("spark.scdb.materialize.reliable")


def _materialize_calls():
    """(module, top-level function, method) per ``.localCheckpoint``,
    ``.checkpoint``, ``.cache`` or ``.persist`` call in the package,
    outside plans/materialize.py."""
    calls = []
    for path in sorted(_PKG.rglob("*.py")):
        if path == _HOME:
            continue
        for top in ast.parse(path.read_text()).body:
            where = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if isinstance(node, ast.Call) and isinstance(
                    node.func, ast.Attribute
                ) and node.func.attr in (
                    "localCheckpoint", "checkpoint", "cache", "persist"
                ):
                    calls.append((path.name, where, node.func.attr))
    return calls


def test_materialization_lives_in_one_place():
    """``pin`` is the only checkpoint call, and ``persist`` survives only
    in the six functions plans/materialize.py names: a new site of
    either shows up here."""
    calls = _materialize_calls()
    checkpoints = [c for c in calls if c[2] != "persist"]
    assert checkpoints == [], checkpoints
    persisted = sorted(where for _, where, m in calls if m == "persist")
    assert persisted == sorted(_PERSISTED_IN), persisted


def test_bpe_trainer_runs_once_per_query(spark):
    """A second run of a BPE query in the same session trains again: it
    fires as many jobs as the first, the trainer's eager pins among
    them (no session-wide trainer cache)."""
    query = QUERIES["llm_bpe_encode_stats"].fn
    first, second = (
        jobs_during(spark, lambda: query(spark, SF_SMOKE).collect())
        for _ in range(2)
    )
    assert len(second) == len(first)
    assert len(second) > 2 * _BPE_MERGES  # two pins per merge iteration


def test_former_local_checkpoint_sites_run_reliable(spark):
    """The iterative loops and the temp-dir result take the cluster path
    of ``pin`` under the reliable override: same rows as local mode,
    and each run writes checkpoint files."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (12, 13)],
        "doc_a long, doc_b long",
    )
    runs = {
        name: (lambda name=name: QUERIES[name].fn(spark, SF_ORACLE))
        for name in (
            "llm_kcore_candidates",
            "llm_pagerank_candidates",
            "llm_kmeans_lloyd",
            "llm_bpe_train_merges",
            "ref_sink_roundtrip",
        )
    }
    runs["connected_components"] = lambda: connected_components(pairs)
    runs["connected_components_star"] = lambda: connected_components_star(pairs)
    spark.conf.unset("spark.scdb.materialize.reliable")
    local = {name: _rows(run()) for name, run in runs.items()}
    spark.conf.set("spark.scdb.materialize.reliable", "true")
    try:
        for name, run in runs.items():
            before = _checkpoint_dirs(spark)
            out = run()  # held, so the cleaner keeps its files
            assert local[name] and _rows(out) == local[name], name
            assert _checkpoint_dirs(spark) - before, f"{name}: no checkpoint files"
    finally:
        spark.conf.unset("spark.scdb.materialize.reliable")
