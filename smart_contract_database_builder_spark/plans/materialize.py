"""Materialization and plan-shape helpers shared across plan modules.

``pin(df)`` is the engine's one checkpoint call: every relation a
query materializes — a multi-consumer intermediate, an iterative
loop's state, a result that must outlive its temp inputs — goes
through it. Under ``local[*]`` it is ``localCheckpoint(eager=True)``;
on a cluster manager it writes the relation once to the checkpoint
directory (a replicated filesystem), so a lost executor re-reads
instead of failing the query (see ``_reliable_wanted``). Call sites
say only why a relation is materialized: how many consumers read it,
or that a loop needs its lineage cut.

``pin`` never caches across runs: each call materializes afresh
(RDD-instance keyed, not plan keyed), and the checkpoint data is
reclaimed by the ContextCleaner (the engine session sets
``spark.cleaner.referenceTracking.cleanCheckpoints``) when the
plan is released. No builder keeps state between query runs.

Six relations are ``persist``-ed instead (``curate_documents``,
``llm_token_entropy``, ``llm_unigram_surprisal``,
``llm_pmi_collocations``, ``llm_bigram_entropy_rate`` and
``_km_state``). Under AQE a checkpoint reports
``UnknownPartitioning(0)``, so each keyed consumer of a pinned
aggregate re-shuffles it: pinning these five kept the rows but raised
the final-plan Exchanges (``llm_curation_pipeline`` 2 → 13,
``llm_pmi_collocations`` 1 → 10, ``llm_bigram_entropy_rate`` 2 → 9).
``_km_state``'s lazy cache fills inside the first iteration's job,
where a pin would add one. Nothing unpersists them yet; releasing
them needs a query-run scope that owns a query's cached relations.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        try:
            from ..sources.store_root import scratch_dir

            root = scratch_dir()
        except Exception:  # unwritable store root: Spark's default tmp
            import tempfile

            root = tempfile.gettempdir()
        sc.setCheckpointDir(os.path.join(root, "checkpoints"))


def fan_out_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism — but ONLY
    when the upstream scan yields fewer partitions than cores.

    Why it exists: a CPU-heavy map-side kernel (the 8-way min-md5
    MinHash partial aggregate, the fixed-point ANN rescale, the
    bootstrap's per-row digest fan-out) runs in the SCAN stage, before
    any exchange — so its parallelism is the scan's split count, not
    the cluster's. A handful of small parquet files (or any
    unsplittable input: gzip, one mega row-group) pins millions of hash
    evaluations to a few tasks while the rest of the cluster idles.
    Fanning out the *pre-explode* rows costs one shuffle of the raw
    rows — the cheapest relation in the pipeline — and buys full-width
    execution of everything downstream of it.

    At 100 TB the scan arrives in thousands of splits and this helper
    is an explicit no-op (the condition, not the operator, is the
    contract: it never ADDS an exchange to a plan that is already
    wide). Round-robin keeps sizes uniform regardless of key
    distribution; results are partitioning-independent.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _reliable_wanted(df: DataFrame) -> bool:
    """Reliable checkpoint on a real cluster manager; executor-local
    blocks under ``local[*]``.

    The hazard ``pin`` exists for — a lost executor invalidating
    lineage-truncated executor-local blocks mid-query — does not exist
    in local mode: driver and executor share one process, so "executor
    loss" is job death either way, and the reliable write would buy
    only a serialize-to-disk round trip per call (~0.5-1 s per
    corpus-sized relation at bench SF, measured). On yarn/k8s/
    standalone the write goes to the configured checkpoint dir
    (replicated FS) and executor loss re-reads instead of failing.
    ``spark.scdb.materialize.reliable`` overrides either way (tests
    pin both modes).
    """
    conf = df.sparkSession.conf.get("spark.scdb.materialize.reliable", None)
    if conf is not None:
        return conf.lower() == "true"
    return not df.sparkSession.sparkContext.master.startswith("local")


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once, recoverably at cluster scale (see module
    docstring). Eager: the relation computes here, exactly once, and
    every consumer reads the materialized blocks/files.
    """
    if not _reliable_wanted(df):
        return df.localCheckpoint(eager=True)
    _ensure_checkpoint_dir(df)
    # Persist across the checkpoint write so the lineage runs once
    # (count job fills the cache, the checkpoint writer re-reads it),
    # then drop the cache entry immediately: no state survives the call.
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out = df.checkpoint(eager=True)
    finally:
        df.unpersist()
    return out
