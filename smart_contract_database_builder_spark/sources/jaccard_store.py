"""Write-time verified-Jaccard pair store (S24) — the third member of
the dedup store family (S21 bands → candidates, this → VERIFIED
pairs, cluster store → components).

Every consumer of the exact-Jaccard verify stage (the threshold
sweep, the cross-source matrix, the length-bias audit — and, via the
cluster store, everything downstream of components) re-runs the same
candidate×shingle intersection join over the same unchanged corpus.
At 100 TB that verify join — |candidates| × |shingles-per-doc| rows —
is the second-dominant dedup cost after the signature pass the S21
store already absorbs. Here it runs ONCE per (corpus fingerprint,
shingle/signature geometry, bucket cap, codec version): the
(doc_a, doc_b, n_shared, jaccard) relation is persisted as plain
parquet (it is pair-scale, orders of magnitude smaller than the
corpus), and every audit is then an O(|verified pairs|) scan.

The stored rows are BIT-IDENTICAL to the query-time verify's (the
writer runs the same ``_ngram_jaccard_pairs_compute`` expressions),
so consumers reuse their DuckDB oracles unchanged — write-time
verification is a physical-layout change, not a semantic one.
``llm_ngram_jaccard_topk`` deliberately stays on the query-time path
as the family's always-verified twin (the ``llm_minhash_lsh_pairs``
vs ``_stored`` precedent).

Build, completeness gate and publish are ``store_root.ensure_store``'s;
the table is written and read by ``bucketing.write_table`` /
``read_table`` (its schema travels with the files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .bucketing import read_table, write_table


def write_jaccard_pairs(pairs: DataFrame, path: str) -> None:
    """Persist the verified (doc_a, doc_b, n_shared, jaccard) relation."""
    write_table(pairs, path)


def read_jaccard_pairs(spark: SparkSession, path: str) -> DataFrame:
    return read_table(spark, path)
