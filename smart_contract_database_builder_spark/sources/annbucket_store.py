"""Write-time hyperplane-bucket store (S23) — the fourth member of the
write-once family (``pq_store.py`` for IVF-PQ codes, ``minhash_store``
for LSH bands, ``simhash_store`` for Hamming fingerprints; this for
the embedding-cosine admission/pair geometry).

``llm_incremental_embedding_admission`` derives the CORPUS side's
hyperplane bucket bits, fixed-point vectors and norms per run — a
corpus-wide pass (64 decimal casts + 8 plane dots per vector) that at
10⁹ vectors dominates every admission batch and repeats on the same
unchanged corpus. In the production layout that encode pass runs ONCE
at ingest:

- one ``(vec_id, bucket, sv, nrm)`` row per vector — the quantized
  vector ships with its bucket because the exact-cosine VERIFY needs
  full fixed-point precision (unlike the PQ path, where 8-byte codes
  suffice for ranked retrieval, an admission SLA verifies exactly);
- the relation persists as a catalog table ``bucketBy(bucket)`` — the
  probe join's shuffle is pre-paid at write time, so an admission
  batch co-locates against the corpus side exchange-free on the
  bucket key.

Stored rows are BIT-IDENTICAL to the query-time pipeline's (the
writer runs the same ``_iscale``/plane-dot expressions), so a
store-read admission returns exactly the query-time answer and reuses
its DuckDB oracle unchanged. The bucket count is
``bucketing.bucket_count`` of the ``embeddings`` bytes, recorded in
the table's ``_BUCKET_SPEC``. Build, completeness gate and publish
are ``store_root.ensure_store``'s; the catalog attach is
``bucketing.register_bucketed``'s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .bucketing import register_bucketed, write_bucketed

_ANN_KEYS = ("bucket",)


def write_emb_buckets(rows: DataFrame, path: str, n_buckets: int) -> None:
    """Persist the (vec_id, bucket, sv, nrm) relation bucketed and
    sorted on the bucket key into ``n_buckets`` buckets at ``path``."""
    write_bucketed(rows, path, _ANN_KEYS, n_buckets)


def attach_emb_buckets(spark: SparkSession, path: str) -> str:
    """Catalog table over the bucket files at ``path``, with the bucket
    spec that lets the planner drop the probe join's corpus-side
    exchange."""
    return register_bucketed(spark, "emb_buckets", path)
