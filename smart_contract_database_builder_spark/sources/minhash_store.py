"""Write-time MinHash band store — the production layout for the
near-dup family, the dedup twin of ``pq_store.py``.

``llm_minhash_lsh_pairs`` tokenizes, shingles and min-hashes the WHOLE
corpus per query — at 100 TB that signature pass (a corpus-wide
explode + 8-way MIN aggregate) dominates every dedup query, and every
query in the family (pairs, clustering, representatives, incremental
admission) repeats it on the same unchanged corpus. In the production
layout the signature pass runs ONCE at ingest:

- the ``(doc_id, band_idx, key)`` banded relation is persisted as a
  catalog table ``bucketBy(n, band_idx, key)`` — the SHUFFLE, not
  just the compute, is paid at write time: the read path's
  ``groupBy(band_idx, key)`` (bucket assembly) is exchange-free
  because the catalog proves the partitioning, so a candidate-pair
  query over the store moves only the candidate pairs themselves.
- each stored row is 3 short strings, not the document text — the
  read path never touches ``documents.parquet`` at all.

The stored bands are BIT-IDENTICAL to the query-time pipeline's (same
``minhash_bands`` expressions write them), so a read-path query
returns exactly ``llm_minhash_lsh_pairs``'s answer and reuses its
DuckDB oracle unchanged — write-time banding is a physical-layout
change, not a semantic one.

Store layout v2 (round 11) adds the SIGNATURE table alongside the
bands — ``<base>/sigs`` holds one ``(doc_id, m0..m7)`` row per
document so the Jaccard-estimate verify stage (signature component
agreement) also skips the corpus pass. Layout v3 sizes both tables by
bytes: the sigs are cut into advisory-size files by AQE's rebalance,
and the band bucket count is ``bucketing.bucket_count`` of the sigs
bytes, recorded in the bands' ``_BUCKET_SPEC``. Layout v4 records the
sigs schema in their own ``_BUCKET_SPEC`` and reads them back with it
(no schema-inference job). Build, completeness gate and publish are
``store_root.ensure_store``'s; the catalog attach is
``bucketing.register_bucketed``'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .bucketing import (
    read_table,
    register_bucketed,
    write_bucketed,
    write_table,
)

_BAND_KEYS = ("band_idx", "key")


def write_minhash_bands(bands: DataFrame, path: str, n_buckets: int) -> None:
    """Persist the (doc_id, band_idx, key) banded relation bucketed
    and sorted on (band_idx, key) into ``n_buckets`` buckets at
    ``path``."""
    write_bucketed(bands, path, _BAND_KEYS, n_buckets)


def attach_minhash_bands(spark: SparkSession, path: str) -> str:
    """Catalog table over the band files at ``path``, with the bucket
    spec that lets the planner drop the bucket-assembly exchange."""
    return register_bucketed(spark, "mh_bands", path)


def write_minhash_sigs(sigs: DataFrame, path: str) -> None:
    """Persist the per-document signature table ``(doc_id, m0..mN)``
    (``bucketing.write_table``)."""
    write_table(sigs, path)


def read_minhash_sigs(spark: SparkSession, path: str) -> DataFrame:
    """The signature table at ``path``, read with its recorded schema."""
    return read_table(spark, path)
