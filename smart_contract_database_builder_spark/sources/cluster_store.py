"""Write-time near-dup CLUSTER store — the third instance of the
write-time-derived-layout pattern (``pq_store.py`` for ANN,
``minhash_store.py`` for LSH bands).

The connected-components relation ``(doc, cluster_id)`` over the LSH
candidate graph is consumed by several independent queries — cluster
membership (``llm_neardup_clusters``), best-representative selection,
the leakage-aware train/val/test split — and each used to re-run the
iterative CC solve per query. The solve is cheap relative to the
signature pass (the edge relation is ~|duplicated docs|, far smaller
than the corpus) but it is an ITERATIVE driver-looped job, so at 100 TB
re-running it per analytics query wastes both cluster time and driver
round-trips. Persisting the label relation once per (corpus
fingerprint, candidate-generator codec, CC codec) makes every consumer
a single parquet scan.

Keying discipline: the store path embeds the SAME corpus fingerprint
as the band store plus both codec versions, so a regenerated corpus, a
changed signature pipeline, or a changed CC algorithm can never
silently serve stale clusters. Build, completeness gate and publish
are ``store_root.ensure_store``'s; the table is written and read by
``bucketing.write_table`` / ``read_table`` (its schema travels with
the files).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .bucketing import read_table, write_table


def write_cluster_map(comp: DataFrame, path: str) -> None:
    """Persist the (doc, cluster_id) component relation under ``path``."""
    write_table(comp, os.path.join(path, "components"))


def read_cluster_map(spark: SparkSession, path: str) -> DataFrame:
    return read_table(spark, os.path.join(path, "components"))
