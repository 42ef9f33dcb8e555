"""Write-time IVF-PQ encoding — the production layout for the ANN
family (r8 VERDICT item #5).

``llm_ivfpq_topk`` computes cell assignment and PQ codes at QUERY time,
which the 100× probe showed is the dominant cost (a corpus-linear
encode pass per query: 20× time at 100× data). In the production
layout — FAISS's on-disk shape, re-expressed as a parquet layout Spark
partition-prunes natively — the encode pass runs ONCE at ingest:

- ``codes/`` — one row per vector: ``(vec_id, c0..c{M-1})``, written
  ``partitionBy("cell")`` so the coarse cell IS the physical partition
  key. A query probing ``nprobe`` cells scans ``nprobe/k`` of the
  corpus (``PartitionFilters`` in the scan, directories never opened),
  and each scanned row is ~``M`` small ints, not a 64-float vector.
- ``cells/`` — the K-row coarse-quantizer table ``(cell, centroid)``,
  read back at query time for the ADC lookup tables (broadcast-sized).

Both tables carry the ``_BUCKET_SPEC`` file of ``sources/bucketing.py``
(no buckets) and are read with the schema it records, so a warm store
read runs no schema-inference job.

Everything is the same exact int64 fixed-point arithmetic as the
query-time form (``ivf_quantized_cells`` / ``_pq_code_m``), so a
read-path query over this store returns BIT-IDENTICAL results to
``llm_ivfpq_topk`` — which is why the registered read-path query can
reuse that query's DuckDB oracle unchanged.

Build, completeness gate and publish are ``store_root.ensure_store``'s.

Imports of the PQ kernels are deferred to call time: ``plans.llm_ops``
imports ``sources.tables`` at module import, so a module-level import
here would cycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bucketing import _write_spec, read_table, write_table


def write_pq_encoded(emb: DataFrame, path: str) -> None:
    """Encode ``(vec_id, embedding, label)`` rows into the partitioned
    IVF-PQ layout at ``path``: compute the coarse-cell assignment and
    the ``_PQ_M`` sub-codes once, write codes parquet partitioned by
    cell plus the K-row cell table.

    Scale shape: the cell table is one packed broadcast row; assignment
    and encoding are pure map stages over one corpus scan; the only
    shuffle is the pre-write ``repartition("cell")`` that aligns tasks
    with output partitions (the same small-files discipline as
    ``write_bucketed``)."""
    from ..plans.llm_ops import (
        _PQ_M,
        _nearest_cell,
        _packed_cells,
        _pq_code_m,
        _scaled,
        ivf_quantized_cells,
    )

    cells = ivf_quantized_cells(emb)
    packed = F.broadcast(_packed_cells(cells))
    assigned = _scaled(emb).crossJoin(packed).select(
        "vec_id", "sv", "cells", _nearest_cell(F.col("sv")).alias("cell")
    )
    codes = assigned.select(
        "vec_id",
        "cell",
        *[_pq_code_m(F.col("sv"), m).alias(f"c{m}") for m in range(_PQ_M)],
    )
    write_table(cells, f"{path}/cells")
    (
        codes.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    _write_spec(codes, f"{path}/codes", 0, ())


def read_pq_codes(spark: SparkSession, path: str) -> DataFrame:
    """The partitioned codes table; filters on ``cell`` become
    ``PartitionFilters`` (directory pruning, no file I/O for unprobed
    cells)."""
    return read_table(spark, f"{path}/codes")


def read_pq_cells(spark: SparkSession, path: str) -> DataFrame:
    """The K-row coarse-quantizer table ``(cell, centroid)``."""
    return read_table(spark, f"{path}/cells")
