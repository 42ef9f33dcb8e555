"""Write-time SimHash fingerprint store — the third member of the
write-once family (``pq_store.py`` for ANN codes, ``minhash_store.py``
for LSH bands, this for SimHash fingerprints).

``llm_simhash_hamming_pairs`` derives its block keys from per-document
64-bit SimHash fingerprints; computing those is a corpus-wide pass
(tokenize → distinct → one md5 per token → 64 vote folds) that at
100 TB dominates the query and repeats on the same unchanged corpus
every time the Hamming lens runs. In the production layout the
fingerprint pass runs ONCE at ingest: one ``(doc_id, simhash)`` row
per document — two short columns, never the text — and the read path's
block explode + bucket assembly works on that tiny relation.

The stored fingerprints are BIT-IDENTICAL to the query-time pipeline's
(the writer runs ``llm_simhash_documents``'s own expressions), so a
read-path query returns exactly the query-time answer and reuses its
DuckDB oracle unchanged — write-time fingerprinting is a physical-
layout change, not a semantic one.

Build, completeness gate and publish are ``store_root.ensure_store``'s;
the table is written and read by ``bucketing.write_table`` /
``read_table`` (its schema travels with the files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .bucketing import read_table, write_table


def write_simhash_fps(fps: DataFrame, path: str) -> None:
    """Persist the (doc_id, simhash) fingerprint relation."""
    write_table(fps, path)


def read_simhash_fps(spark: SparkSession, path: str) -> DataFrame:
    return read_table(spark, path)
