"""Hypertable-style continuous aggregate: an hourly events rollup
maintained INCREMENTALLY in DuckDB.

The pattern (TimescaleDB's continuous aggregates / a Lambda batch
layer): the standing table keys on (bucket, event_type) and stores
MERGEABLE partials — a count and an exact DECIMAL sum — so refreshing
with a new slice of the changelog is one distributed partial aggregate
over just that slice plus one conflict-merge upsert into the rollup:

    INSERT ... ON CONFLICT (bucket, event_type)
    DO UPDATE SET n += excluded.n, total += excluded.total

No bucket is ever recomputed from raw history; late data merges into
its (old) bucket exactly like fresh data. Each refresh is an epoch of
the sink's one loader (``duckdb_sink.staged_load``): additive merges
are NOT idempotent per row, so its epoch ledger is what makes
redelivery safe.

At 100 TB: the slice aggregate shuffles ~|distinct (bucket, type)| of
the slice (map-side combine), the upsert is rollup-sized, and the raw
changelog is never re-read. DECIMAL partials keep the merge
order-independent and exact — double sums would drift by merge order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import dec
from .duckdb_sink import connect, staged_load

_ROLLUP_DDL = """
CREATE TABLE IF NOT EXISTS events_rollup_hourly (
    bucket_start TIMESTAMP,
    event_type VARCHAR,
    n_events BIGINT,
    total_value DECIMAL(18,2),
    PRIMARY KEY (bucket_start, event_type)
);
"""


def hourly_partials(events: DataFrame) -> DataFrame:
    """The slice-level partial aggregate: one row per (hour bucket,
    event_type) with mergeable (count, exact-decimal sum) partials."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def refresh_rollup(batch: DataFrame, db_path: str, batch_id: int) -> None:
    """Merge one changelog slice into the standing rollup: distributed
    partial aggregate → staged parquet → one additive conflict-merge
    upsert, atomic with its epoch-ledger row (replays no-op)."""
    staged_load(
        hourly_partials(batch),
        db_path,
        "events_rollup_hourly",
        """
        INSERT INTO events_rollup_hourly
        SELECT bucket_start, event_type,
               n_events,
               CAST(total_value AS DECIMAL(18,2))
        FROM staged
        ON CONFLICT (bucket_start, event_type) DO UPDATE SET
            n_events = events_rollup_hourly.n_events + excluded.n_events,
            total_value = events_rollup_hourly.total_value
                          + excluded.total_value
        """,
        _ROLLUP_DDL,
        batch_id=batch_id,
    )


def read_rollup(db_path: str):
    """The standing rollup as plain rows (bucket ISO string, type,
    count, total as float) for assertions and exports."""
    con = connect(db_path)
    try:
        return con.execute(
            "SELECT CAST(bucket_start AS VARCHAR) AS bucket_start, "
            "event_type, n_events, "
            "CAST(total_value AS DOUBLE) AS total_value "
            "FROM events_rollup_hourly ORDER BY bucket_start, event_type"
        ).fetchall()
    finally:
        con.close()
