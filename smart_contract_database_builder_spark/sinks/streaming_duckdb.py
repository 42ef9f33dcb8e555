"""Exactly-once streaming sink: foreachBatch → idempotent DuckDB upsert.

Structured Streaming's ``foreachBatch`` delivers each micro-batch
AT-LEAST-ONCE (a batch is replayed wholesale after a failure between
sink write and checkpoint commit), so end-to-end exactly-once is
at-least-once delivery + an idempotent writer. The writer is the batch
sink's one loader (``duckdb_sink.staged_load``, whose docstring holds
the protocol), and two layers make it idempotent:

1. **Epoch** — called with the ``batch_id``, the loader's ledger skips
   a replayed epoch and commits a new one atomically with its rows.
2. **Key uniqueness** — the sink table carries a UNIQUE index on the
   caller's key columns and loads with ``INSERT OR IGNORE``, so even a
   NEW batch id carrying previously-seen keys (e.g. a source replayed
   from an older offset after checkpoint loss) cannot duplicate rows —
   the same conflict-ignoring contract as the reference's id-dedup
   (reference src/db.rs:149-234).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .duckdb_sink import connect, staged_load


def exactly_once_upsert(db_path: str, table: str, key_cols: list[str]):
    """Build the ``foreachBatch`` callable: each (micro-batch, epoch id)
    is committed to ``table`` atomically with its ledger row; replays of
    the same epoch no-op, and key collisions from cross-epoch replays
    are ignored by the UNIQUE index. The table takes the schema of the
    first batch."""
    setup = (
        f"CREATE TABLE IF NOT EXISTS {table} AS SELECT * FROM staged LIMIT 0;"
        f"CREATE UNIQUE INDEX IF NOT EXISTS idx_{table}_key "
        f"ON {table} ({', '.join(key_cols)})"
    )
    insert = f"INSERT OR IGNORE INTO {table} SELECT * FROM staged"

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        staged_load(batch, db_path, table, insert, setup, batch_id=batch_id)

    return write_batch


def stream_events_to_duckdb(
    spark, sf_dir: str, db_path: str, checkpoint_dir: str
) -> int:
    """T4 + S7 end-to-end: the watermark-deduped event stream drained
    into DuckDB exactly-once with an ``availableNow`` trigger. Returns
    the number of rows in the sink table after the drain."""
    from ..streaming.jobs import dedup_events_within_watermark, read_events_stream

    events = dedup_events_within_watermark(read_events_stream(spark, sf_dir))
    (
        events.writeStream.foreachBatch(
            exactly_once_upsert(db_path, "events_sink", ["event_id"])
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    con = connect(db_path)
    try:
        return con.execute("SELECT COUNT(*) FROM events_sink").fetchone()[0]
    finally:
        con.close()
