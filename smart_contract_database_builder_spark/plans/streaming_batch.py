"""Streaming operators, batch-equivalent form (SURVEY.md T1-T5 EXT).

Structured Streaming transformations are ordinary DataFrame plans — the
same ``F.window`` / ``F.session_window`` / join expressions run under
``readStream`` unchanged. These queries declare the T2/T3/T4/T5
semantics over the batch ``events`` table so the DuckDB oracle can check
them exactly; ``streaming/jobs.py`` runs the *same shared
transformations* as true streams (watermarks, availableNow triggers,
memory sink) with tests asserting stream == batch.

Alignment note: Spark tumbling/sliding windows align to the Unix epoch,
DuckDB ``time_bucket`` to 2000-01-03; both grids coincide for
minute-divisible widths since the offset is a whole number of days.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import dsum
from ..sources.tables import load_table
from ..streaming import jobs
from .registry import register

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_SQL_TS_FMT = "%Y-%m-%d %H:%M:%S"
_TS_FMT_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_SQL_TS_FMT_US = "%Y-%m-%d %H:%M:%S.%f"


_TUMBLING_ORACLE = f"""
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '{_SQL_TS_FMT}')
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """


@register("stream_tumbling_window_counts", oracle=_TUMBLING_ORACLE)
def stream_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 5-minute tumbling-window aggregate per event type — the
    canonical streaming rollup (identical code runs under readStream
    with a watermark; see streaming/jobs.py).

    Scale shape: shuffle keyed by (window, type) — time-uniform keys, no
    skew; partial aggregation bounds state.
    """
    ev = load_table(spark, sf_dir, "events")
    return jobs.tumbling_counts(ev).select(
        F.date_format("window_start", _TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@register(
    "stream_sliding_window_avg",
    oracle=f"""
    SELECT strftime(ws, '{_SQL_TS_FMT}') AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
             AS avg_value
    FROM (
      SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts)
                       - INTERVAL '5 minutes']) AS ws,
             value
      FROM events
    )
    GROUP BY ws
    """,
)
def stream_sliding_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 10-minute window sliding every 5 — each event lands in two
    overlapping windows (the oracle expands the membership explicitly)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             / F.count(F.lit(1))).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


@register(
    "stream_session_windows",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT *,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{_SQL_TS_FMT_US}') AS session_start,
           strftime(MAX(ts) + INTERVAL '30 minutes', '{_SQL_TS_FMT_US}')
             AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: per-user session windows with a 30-minute inactivity gap.
    Spark's session_window spans [first event, last event + gap); the
    oracle reproduces it with the gaps-and-islands pattern (a session
    splits when the gap is >= the timeout, matching the half-open
    window).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT_US).alias("session_start"),
            F.date_format("w.end", _TS_FMT_US).alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "stream_dedup_first_event",
    oracle=f"""
    SELECT user_id, event_type, event_id AS first_event_id,
           strftime(ts, '{_SQL_TS_FMT_US}') AS first_ts, value AS first_value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) = 1
    """,
)
def stream_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 batch equivalent: keep the earliest event per (user, type) —
    deterministic dedup via a ranking window (the streaming form is
    ``dropDuplicatesWithinWatermark``, exercised in streaming tests;
    this batch form pins the keep-first semantics the oracle can check).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.date_format("ts", _TS_FMT_US).alias("first_ts"),
            F.col("value").alias("first_value"),
        )
    )


@register(
    "stream_static_enrich_segments",
    oracle="""
    SELECT c.c_mktsegment AS segment, e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: stream-static enrichment join — events against the customer
    dimension, rolled up by market segment. Under readStream the same
    join runs per micro-batch with the static side broadcast; see
    streaming/jobs.py.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return jobs.enrich_with_customers(ev, cust)


@register(
    "stream_stream_join_attribution",
    oracle=f"""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           strftime(c.ts, '{_SQL_TS_FMT_US}') AS click_ts,
           strftime(p.ts, '{_SQL_TS_FMT_US}') AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL '30 minutes'
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 (EXT): stream-stream join, batch-equivalent form — purchases
    attributed to same-user clicks within a 30-minute band (shared plan
    ``jobs.click_purchase_attribution``; the true watermarked
    stream-stream join over the same transformation is
    ``jobs.attribution_stream``, equivalence-tested in
    tests/test_streaming.py). Oracle-carrying and pytest-swept; the
    driver window takes it in its evidence-rotation turn.
    """
    ev = load_table(spark, sf_dir, "events")
    out = jobs.click_purchase_attribution(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", _TS_FMT_US).alias("click_ts"),
        F.date_format("purchase_ts", _TS_FMT_US).alias("purchase_ts"),
        "purchase_value",
    )


@register("stream_true_tumbling_availablenow", oracle=_TUMBLING_ORACLE)
def stream_true_tumbling_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2 true streaming: reads events as an unbounded stream
    (parquet file source), applies a 10-minute watermark and the shared
    tumbling-window aggregation, drains it with an availableNow trigger
    into a memory sink, and returns the materialized result. Because the
    drained stream must equal the batch aggregation exactly, it shares
    the batch twin's oracle — a genuine stream==batch equivalence gate.
    """
    ev = jobs.read_events_stream(spark, sf_dir)
    windowed = jobs.tumbling_counts(ev.withWatermark("ts", "10 minutes"))
    out = windowed.select(
        F.date_format("window_start", _TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )
    return jobs.run_to_memory(out, "tumbling_availablenow_smoke")


@register("stream_stateful_running_totals", oracle=None)
def stream_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-EXT custom stateful streaming: per-user running totals via
    ``applyInPandasWithState`` (arbitrary Python state transitions over
    Arrow batches — the operator family built-in streaming aggregates
    can't express). The memory sink holds one update row per user per
    micro-batch; the final emission per user (max n_events) must equal
    the batch aggregation exactly — asserted in tests/test_streaming.py
    (rows-only here: custom stateful streaming is non-SQL-expressible,
    per the driver contract's carve-out).
    """
    ev = jobs.read_events_stream(spark, sf_dir)
    updates = jobs.run_to_memory(
        jobs.running_user_totals(ev), "stateful_running_totals_q", mode="update"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


@register("stream_true_point_in_time", oracle=None)
def stream_true_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 TRUE-RUN twin (r7 VERDICT item #7): the point-in-time
    version lookup executed as a real stream — watermarked stream-stream
    self-join generating band-limited candidate prior versions, chained
    into a windowed max_by aggregation that picks the latest version
    per purchase with the batch SCD2 tie-break (the supported
    multiple-stateful-operators shape). Rows-only here: a true
    streaming run is non-SQL-expressible per the driver contract's
    carve-out — its correctness evidence is the band-restricted
    equality to ``cdc_point_in_time_join`` (sound everywhere, complete
    below the chained-operator watermark cutoff) in
    tests/test_streaming.py.
    """
    return jobs.run_to_memory(
        jobs.point_in_time_stream(spark, sf_dir),
        "stream_true_point_in_time_q",
        mode="append",
    )


@register(
    "cdc_merge_latest_snapshot",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type, value, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_changes
      FROM events
    )
    SELECT user_id, event_type AS last_op, value AS last_value,
           strftime(ts, '{_SQL_TS_FMT_US}') AS last_ts, n_changes
    FROM ranked WHERE rn = 1 AND event_type <> 'error'
    """,
)
def cdc_merge_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-EXT CDC MERGE — compact a changelog into its latest snapshot
    (SCD type 1 / Delta ``MERGE`` semantics): events are per-user
    change records ordered by (ts, event_id); the last record wins, and
    a last record of type ``error`` is a TOMBSTONE — the key is absent
    from the snapshot entirely. Emits each live key's last operation,
    value, change time, and total changelog depth.

    Scale shape: implemented as ONE hash aggregate — ``max_by`` over
    the (ts, event_id) struct — not a ranking window: the aggregate
    form partial-aggregates map-side (each input partition collapses to
    one candidate row per key before the exchange), so a 100 TB
    changelog shuffles only ~|keys| rows, where a row_number window
    would shuffle and SORT the full changelog. The tombstone filter
    runs post-merge, exactly like a MERGE's WHEN MATCHED AND op =
    'delete' THEN DELETE branch. Ties are impossible (event_id is
    unique), so the oracle's DESC row_number picks the same record.
    """
    ev = load_table(spark, sf_dir, "events")
    ordkey = F.struct("ts", "event_id")
    last = F.max_by(
        F.struct("event_type", "value", "ts"), ordkey
    ).alias("last")
    snap = ev.groupBy("user_id").agg(
        last, F.count(F.lit(1)).alias("n_changes")
    )
    return snap.filter(F.col("last.event_type") != "error").select(
        "user_id",
        F.col("last.event_type").alias("last_op"),
        F.col("last.value").alias("last_value"),
        F.date_format("last.ts", _TS_FMT_US).alias("last_ts"),
        "n_changes",
    )


@register(
    "cdc_scd2_history",
    oracle=f"""
    SELECT user_id,
           event_type AS op,
           value,
           strftime(ts, '{_SQL_TS_FMT_US}') AS valid_from,
           strftime(
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             '{_SQL_TS_FMT_US}'
           ) AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL AND event_type <> 'error') AS is_current
    FROM events
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-EXT SCD TYPE 2 — the history-preserving complement of
    ``cdc_merge_latest_snapshot``: every change record becomes a
    versioned dimension row valid over [its ts, the key's next change):
    the last version stays open (``valid_to`` null) and is the current
    row unless it is an ``error`` tombstone, in which case the key's
    history closes with no current row — MERGE's "expire old, insert
    new" pattern expressed as one window.

    Scale shape: ONE shuffle on the natural key and a per-key sort for
    the ``lead`` — the canonical SCD2 build; no global sort, no
    self-join against "current rows" (the join-based SCD2 recipe
    re-shuffles the dimension per batch; the window form rebuilds
    history in one pass, which is the right shape for a periodic
    100 TB backfill). Timestamps leave as formatted strings (the
    engine's no-DATE-output oracle rule); tie-safe because event_id is
    unique within a key.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("op"),
        "value",
        F.date_format("ts", _TS_FMT_US).alias("valid_from"),
        F.date_format(nxt, _TS_FMT_US).alias("valid_to"),
        (nxt.isNull() & (F.col("event_type") != "error")).alias("is_current"),
    )


@register(
    "stream_stream_left_outer",
    oracle=f"""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           strftime(c.ts, '{_SQL_TS_FMT_US}') AS click_ts,
           strftime(p.ts, '{_SQL_TS_FMT_US}') AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL '30 minutes'
    WHERE c.event_type = 'click'
    """,
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 EXT: LEFT-OUTER stream-stream join, batch-equivalent form —
    every click with its in-band purchases OR a NULL row when none
    arrived (conversion AND drop-off in one relation; the inner
    `stream_stream_join_attribution` only shows conversion). The true
    watermarked streaming form is ``jobs.left_outer_attribution_stream``;
    its null rows are withheld until the watermark passes each click's
    band, which is why the stream-vs-batch equivalence test
    (tests/test_streaming.py) compares matched rows everywhere but
    null rows only below the final watermark — exactly the semantics
    the Spark docs promise for outer stream joins.
    """
    ev = load_table(spark, sf_dir, "events")
    out = jobs.click_purchase_left_outer(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    return out.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", _TS_FMT_US).alias("click_ts"),
        F.date_format("purchase_ts", _TS_FMT_US).alias("purchase_ts"),
        "purchase_value",
    )


@register(
    "cdc_point_in_time_join",
    oracle=f"""
    WITH scd AS (
      SELECT user_id, event_type AS op, value, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events
    )
    SELECT p.event_id, p.user_id,
           s.op AS prev_op,
           s.value AS prev_value,
           CAST(epoch_us(p.ts - s.valid_from) AS DOUBLE) / 60000000
             AS state_age_minutes
    FROM events p
    JOIN scd s
      ON s.user_id = p.user_id
     AND s.valid_from < p.ts
     AND (s.valid_to IS NULL OR p.ts <= s.valid_to)
    WHERE p.event_type = 'purchase'
    """,
)
def cdc_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 companion: POINT-IN-TIME temporal join — each purchase
    enriched with the user's immediately-prior state version from the
    SCD2 validity windows (`valid_from < ts ≤ valid_to`): the canonical
    versioned-dimension lookup every temporal warehouse query runs,
    and the consumption side of `cdc_scd2_history`. Differs from the
    as-of family in plan shape: the dimension is an INTERVAL relation,
    so the join is an equi-join on the key with the containment
    predicate applied within key groups — no per-row subquery, no
    union trick.

    Exactness: timestamps and values pass through; the state age is an
    exact integer microsecond difference with one division. Scale
    shape: both sides shuffle once on the uniform user key; the
    window building the validity intervals is the SCD2 plan itself.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    scd = ev.select(
        "user_id",
        F.col("event_type").alias("op"),
        F.col("value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    s = scd.alias("s")
    return (
        p.join(
            s,
            (F.col("s.user_id") == F.col("p.user_id"))
            & (F.col("s.valid_from") < F.col("p.ts"))
            & (
                F.col("s.valid_to").isNull()
                | (F.col("p.ts") <= F.col("s.valid_to"))
            ),
        )
        .select(
            F.col("p.event_id").alias("event_id"),
            F.col("p.user_id").alias("user_id"),
            F.col("s.op").alias("prev_op"),
            F.col("s.value").alias("prev_value"),
            (
                (
                    F.unix_micros("p.ts") - F.unix_micros("s.valid_from")
                ).cast("double")
                / F.lit(60000000.0)
            ).alias("state_age_minutes"),
        )
    )


@register(
    "stream_hourly_ohlc",
    oracle=f"""
    WITH e AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS wb, ts, event_id, value
      FROM events
    ),
    o AS (
      SELECT wb, value FROM e
      QUALIFY ROW_NUMBER() OVER (PARTITION BY wb
                                 ORDER BY ts, event_id) = 1
    ),
    c AS (
      SELECT wb, value FROM e
      QUALIFY ROW_NUMBER() OVER (PARTITION BY wb
                                 ORDER BY ts DESC, event_id DESC) = 1
    ),
    hl AS (
      SELECT wb, MIN(value) AS px_low, MAX(value) AS px_high,
             COUNT(*) AS n
      FROM e GROUP BY 1
    )
    SELECT strftime(hl.wb, '{_SQL_TS_FMT}') AS window_start,
           o.value AS px_open, hl.px_high, hl.px_low,
           c.value AS px_close,
           CAST(hl.n AS BIGINT) AS n_events
    FROM hl JOIN o ON o.wb = hl.wb
            JOIN c ON c.wb = hl.wb
    """,
)
def stream_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2-EXT: streaming OHLC downsampling — per-hour open/high/low/
    close bars over the event value stream, the metrics-store rollup in
    its STREAMING form (identical code runs under readStream; the
    struct-extrema aggregates are mergeable, so streaming state is one
    struct pair per open window regardless of event volume —
    `tests/test_streaming.py` asserts the true availableNow run equals
    this batch twin). Oracle spells open/close as the window-function
    form; Spark's plan stays a single map-side-combined aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    return jobs.hourly_ohlc(ev).select(
        F.date_format("window_start", _TS_FMT).alias("window_start"),
        "px_open",
        "px_high",
        "px_low",
        "px_close",
        "n_events",
    )


@register("stream_true_scd2_closed", oracle=None)
def stream_true_scd2_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 TRUE-RUN twin (rows-only): the SCD2 history build executed
    as a real stream — ``jobs.scd2_closed_versions``, an
    ``applyInPandasWithState`` operator with EVENT-TIME TIMEOUTS that
    buffers change records per key and emits each version the moment
    the watermark makes its closure FINAL (nothing can arrive below
    the watermark, so a closed pair below it can never be split by a
    late record). Open rows never emit — not final on an unbounded
    stream by definition. Rows-only: a true streaming run is
    non-SQL-expressible per the driver contract's carve-out; its
    correctness evidence is the exact equality to the batch
    ``cdc_scd2_history``'s closed rows below the final watermark
    (tests/test_streaming_scd2.py — sound everywhere, complete below
    the watermark, late records dropped not rewritten).
    """
    out = jobs.run_to_memory(
        jobs.scd2_closed_stream(spark, sf_dir),
        "stream_true_scd2_q",
        mode="append",
    )
    return out.select(
        "user_id",
        "op",
        "value",
        F.date_format(
            F.timestamp_micros(F.col("valid_from_us")), _TS_FMT_US
        ).alias("valid_from"),
        F.date_format(
            F.timestamp_micros(F.col("valid_to_us")), _TS_FMT_US
        ).alias("valid_to"),
    )


@register(
    "stream_window_topk_events",
    oracle=f"""
    WITH wc AS (
      SELECT strftime(time_bucket(INTERVAL '60 minutes', ts),
                      '{_SQL_TS_FMT}') AS window_start,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY window_start
               ORDER BY n_events DESC, event_type) AS rnk
      FROM wc
    )
    SELECT window_start, event_type, n_events, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def stream_window_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T11 EXT: WINDOWED TOP-K — per hourly tumbling window, the
    three busiest event types with deterministic dense ordering
    (count DESC, type ASC tie-break): the trending-now rollup every
    event dashboard streams. The window aggregate is the identical
    mergeable shape as the tumbling counts (T2), so under readStream
    the state is one count per open (window, type); the top-k rank
    runs on the O(windows × types) aggregate relation, never the
    event stream.

    Scale shape: shuffle keyed (window, type) — time-uniform,
    map-side combinable; the rank window partitions by window_start
    over a tiny relation (types per window bounded by the type
    domain). Counts exact; no floats anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    ranked = jobs.topk_types_per_window(jobs.hourly_type_counts(ev))
    return ranked.select(
        F.date_format("window_start", _TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        "rnk",
    )


# ---------------------------------------------------------------------------
# Round-13: watermark lateness audit (distributed prefix scan)
# ---------------------------------------------------------------------------

#: Candidate watermark delays audited, as (hours, microseconds).
_WM_DELAYS = [(1, 3_600_000_000), (6, 21_600_000_000), (24, 86_400_000_000)]

#: Arrival-order bucket width for the distributed prefix scan: the
#: running max over all PRECEDING events factors into (max within my
#: bucket so far) ∪ (max of every earlier bucket), so only the
#: O(n/width) bucket-summary relation ever needs a global window.
_WM_BUCKET = 65_536


@register(
    "stream_watermark_late_audit",
    oracle=f"""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS us FROM events
    ),
    r AS (
      SELECT event_id, us,
             MAX(us) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS hwm
      FROM e
    )
    SELECT CAST(t.w_hours AS BIGINT) AS w_hours,
           CAST(COUNT(CASE WHEN r.hwm - r.us > t.w_us THEN 1 END) AS BIGINT)
             AS n_late,
           CAST(COUNT(CASE WHEN r.hwm - r.us > t.w_us THEN 1 END) AS DOUBLE)
             / (SELECT COUNT(*) FROM e) AS late_share
    FROM (VALUES {", ".join(f"({h}, {us})" for h, us in _WM_DELAYS)})
           t(w_hours, w_us)
    CROSS JOIN r
    GROUP BY t.w_hours
    """,
)
def stream_watermark_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T4 EXT: WATERMARK LATENESS audit — for candidate watermark
    delays (1 h / 6 h / 24 h), how many events a streaming job would
    DROP because they arrive after the high-water mark (max event
    time over all earlier arrivals, arrival order = event_id) has
    passed their timestamp by more than the delay. This is the curve
    an engineer reads before picking ``withWatermark``: too short
    silently drops the tail, too long holds state forever.

    The running max is a PREFIX SCAN, which a naive window
    (ORDER BY event_id over everything — what the oracle does) would
    serialize onto one partition. The plan instead factors it:
    arrival order splits into {_WM_BUCKET}-wide event_id buckets;
    within-bucket running maxes parallelize per bucket, the per-
    bucket maxima form an O(n/{_WM_BUCKET}) summary whose own prefix
    max IS cheap to compute globally, and the two recombine with one
    broadcast join — the textbook two-level scan, so no stage ever
    sorts the full stream on one core.

    Exactness: epoch-microsecond int64 arithmetic throughout; the
    first event's null high-water mark is dropped by comparison
    semantics on both engines; delays are shared integer literals.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    ev = ev.withColumn("bkt", F.floor(F.col("event_id") / _WM_BUCKET))
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scanned = ev.select(
        "event_id", "us", "bkt", F.max("us").over(w_in).alias("in_max")
    )
    bsum = ev.groupBy("bkt").agg(F.max("us").alias("bmax"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bpre = bsum.select("bkt", F.max("bmax").over(w_b).alias("pre_max"))
    hwm = F.greatest(
        F.coalesce("in_max", F.lit(None).cast("long")),
        F.coalesce("pre_max", F.lit(None).cast("long")),
    )
    lateness = (hwm - F.col("us")).alias("lateness")
    scored = scanned.join(F.broadcast(bpre), "bkt").select(lateness)
    total = load_table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    axis = F.array(
        *[
            F.struct(
                F.lit(h).cast("long").alias("w_hours"),
                F.lit(us).alias("w_us"),
            )
            for h, us in _WM_DELAYS
        ]
    )
    return (
        scored.select(
            F.explode(axis).alias("w"), F.col("lateness")
        )
        .groupBy(F.col("w.w_hours").alias("w_hours"))
        .agg(
            F.sum(
                (F.col("lateness") > F.col("w.w_us")).cast("long")
            ).cast("long").alias("n_late")
        )
        .crossJoin(F.broadcast(total))
        .select(
            "w_hours",
            F.coalesce("n_late", F.lit(0)).cast("long").alias("n_late"),
            (
                F.coalesce("n_late", F.lit(0)).cast("double")
                / F.col("n_total").cast("double")
            ).alias("late_share"),
        )
    )


#: State-window width for the sizing audit: 1-hour tumbling windows —
#: the grain `stream_hourly_ohlc` and the tumbling jobs actually key
#: state by.
_WM_STATE_WINDOW_US = 3_600_000_000


@register(
    "stream_watermark_state_audit",
    oracle=f"""
    WITH w AS (
      SELECT epoch_us(ts) // {_WM_STATE_WINDOW_US} AS slot,
             COUNT(*) AS n_events
      FROM events
      GROUP BY slot
    ),
    m AS (SELECT MAX(epoch_us(ts)) AS mx FROM events)
    SELECT CAST(t.w_hours AS BIGINT) AS w_hours,
           CAST(COUNT(*) AS BIGINT) AS n_windows_total,
           CAST(COUNT(CASE WHEN (w.slot + 1) * {_WM_STATE_WINDOW_US}
                                > m.mx - t.w_us THEN 1 END) AS BIGINT)
             AS n_windows_open,
           CAST(COALESCE(SUM(CASE WHEN (w.slot + 1) * {_WM_STATE_WINDOW_US}
                                       > m.mx - t.w_us
                                  THEN w.n_events END), 0) AS BIGINT)
             AS n_events_open,
           CAST(COUNT(CASE WHEN (w.slot + 1) * {_WM_STATE_WINDOW_US}
                                > m.mx - t.w_us THEN 1 END) AS DOUBLE)
             / COUNT(*) AS open_share
    FROM (VALUES {", ".join(f"({h}, {us})" for h, us in _WM_DELAYS)})
           t(w_hours, w_us)
    CROSS JOIN w CROSS JOIN m
    GROUP BY t.w_hours
    """,
)
def stream_watermark_state_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/T4 EXT: WATERMARK STATE-SIZE audit — the sizing complement of
    ``stream_watermark_late_audit``: that one prices what a delay
    DROPS; this one prices what it HOLDS. For each candidate delay
    (1 h / 6 h / 24 h), how many 1-hour tumbling windows a streaming
    aggregation would still keep in its state store when the stream's
    high-water mark reaches the corpus max (windows whose end the
    watermark has not yet passed — exactly the eviction predicate
    `window.end <= watermark` that `test_streaming`'s true-run
    witness pins), how many events those open windows cover, and the
    open fraction. Together the two audits are the
    `withWatermark` decision: lateness curve = data loss, state curve
    = memory held.

    Scale shape: ONE map-side-combinable window-count aggregate over
    the events scan (key = epoch-hour slot), one broadcast max; the
    delay axis crosses the O(hours) window relation only. Integer
    microsecond arithmetic throughout; the share is one IEEE divide.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us")
    )
    w = ev.groupBy(
        F.expr(f"us div {_WM_STATE_WINDOW_US}").alias("slot")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    m = ev.agg(F.max("us").alias("mx"))
    axis = F.array(
        *[
            F.struct(
                F.lit(h).cast("long").alias("w_hours"),
                F.lit(us).alias("w_us"),
            )
            for h, us in _WM_DELAYS
        ]
    )
    is_open = (
        (F.col("slot") + 1) * _WM_STATE_WINDOW_US
        > F.col("mx") - F.col("w.w_us")
    )
    return (
        w.crossJoin(F.broadcast(m))
        .select("slot", "n_events", "mx", F.explode(axis).alias("w"))
        .groupBy(F.col("w.w_hours").alias("w_hours"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows_total"),
            F.sum(is_open.cast("long")).cast("long").alias("n_windows_open"),
            F.coalesce(F.sum(F.when(is_open, F.col("n_events"))), F.lit(0))
            .cast("long")
            .alias("n_events_open"),
            (
                F.sum(is_open.cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("open_share"),
        )
    )


def _shard_merge_lateness(
    spark: SparkSession, sf_dir: str, percentile
) -> DataFrame:
    """Lateness report of the md5-ordered shard merge of ``events``:
    the two-level prefix scan scores every event's lateness against
    the running max of the events before it in arrival order, and
    ``percentile(x, qs)`` reduces the positive lateness ``x`` (double)
    to its p50/p90/p99 array. The exact and the t-digest twins differ
    only in that reduction."""
    ev = load_table(spark, sf_dir, "events").select(
        F.md5(F.col("event_id").cast("string")).alias("ak"),
        F.unix_micros("ts").alias("us"),
    )
    ev = ev.withColumn("bkt", F.substring("ak", 1, 3))
    w_in = (
        Window.partitionBy("bkt")
        .orderBy("ak")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scanned = ev.select(
        "ak", "us", "bkt", F.max("us").over(w_in).alias("in_max")
    )
    bsum = ev.groupBy("bkt").agg(F.max("us").alias("bmax"))
    w_b = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    bpre = bsum.select("bkt", F.max("bmax").over(w_b).alias("pre_max"))
    hwm = F.greatest(
        F.coalesce("in_max", F.lit(None).cast("long")),
        F.coalesce("pre_max", F.lit(None).cast("long")),
    )
    scored = scanned.join(F.broadcast(bpre), "bkt").select(
        (hwm - F.col("us")).alias("lateness")
    )
    late = scored.filter(F.col("lateness") > 0).agg(
        percentile(
            F.col("lateness").cast("double"),
            F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
        ).alias("q"),
        F.max("lateness").alias("mx"),
        F.count(F.lit(1)).alias("n_late"),
    )
    tot = scored.agg(F.count(F.lit(1)).alias("n_events"))
    return late.crossJoin(F.broadcast(tot)).select(
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_late").cast("long").alias("n_late"),
        (
            F.col("n_late").cast("double") / F.col("n_events").cast("double")
        ).alias("late_share"),
        F.element_at("q", 1).alias("p50_late_us"),
        F.element_at("q", 2).alias("p90_late_us"),
        F.element_at("q", 3).alias("p99_late_us"),
        F.col("mx").cast("long").alias("max_late_us"),
    )


@register(
    "stream_shard_merge_lateness",
    oracle=f"""
    WITH e AS (
      SELECT md5(CAST(event_id AS VARCHAR)) AS ak, epoch_us(ts) AS us
      FROM events
    ),
    r AS (
      SELECT us,
             MAX(us) OVER (ORDER BY ak
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS hwm
      FROM e
    ),
    late AS (
      SELECT quantile_cont(CAST(hwm - us AS DOUBLE), [0.5, 0.9, 0.99]) AS q,
             MAX(hwm - us) AS mx,
             COUNT(*) AS n_late
      FROM r WHERE hwm - us > 0
    ),
    tot AS (SELECT COUNT(*) AS n_events FROM e)
    SELECT CAST(tot.n_events AS BIGINT) AS n_events,
           CAST(late.n_late AS BIGINT) AS n_late,
           CAST(late.n_late AS DOUBLE) / tot.n_events AS late_share,
           q[1] AS p50_late_us,
           q[2] AS p90_late_us,
           q[3] AS p99_late_us,
           CAST(late.mx AS BIGINT) AS max_late_us
    FROM late CROSS JOIN tot
    """,
)
def stream_shard_merge_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15 EXT: SHARD-MERGE LATENESS percentiles — exact p50/p90/p99/max
    of the positive lateness a watermarked consumer would observe if
    the event stream arrived through an UNORDERED shard merge. The
    corpus's native arrival order (event_id) is perfectly time-sorted
    — T15 measures it and honestly reports zero late events — but a
    real collector fans in from many shards and interleaves, so the
    sizing question "what delay covers the p99 of disorder" needs a
    disorder model: here arrival order is the md5 of the event id
    (deterministic on both engines), the standard worst-case shuffle
    a shard merge approaches as shard count grows. The answer is the
    inverse of T15's — that audit prices three candidate delays, this
    reads the delay off the distribution.

    Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` on the same doubles) are the
    oracle-checkable anchor; at corpus scale the same query swaps to
    ``percentile_approx`` (mergeable t-digest).

    Scale shape: the running max over the arrival order is the T15
    two-level distributed prefix scan transplanted onto the hash
    axis: the 3-hex arrival-key prefix buckets the stream into 4096
    lexicographic segments (bucket order IS arrival order), the
    within-bucket window parallelizes per segment, the O(4096)
    bucket-summary prefix recombines with one broadcast join — no
    single-partition global sort. Integer microsecond lateness cast
    to double once before interpolation on both engines.
    """
    return _shard_merge_lateness(spark, sf_dir, F.percentile)


@register("stream_shard_merge_lateness_approx")
def stream_shard_merge_lateness_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T17's PRODUCTION form — rows-only: the exact-percentile anchor
    (`stream_shard_merge_lateness`) carries the cross-engine oracle
    but pays a single-task sort over the late population (the one
    superlinear term the 100× probe measured); this twin swaps in
    ``percentile_approx`` (t-digest: mergeable, map-side combinable,
    rank-error bounded by 1/accuracy), which distributes the whole
    aggregation. Rows-only because a sketch has no engine-neutral
    oracle; tests/test_round14_ops_invariants.py pins its rank error
    against the exact twin, and SCALE.md carries the probe showing
    the sequential tail gone.

    Same two-level prefix scan upstream; identical output schema, so
    a pipeline swaps the two by name.
    """
    return _shard_merge_lateness(
        spark, sf_dir, lambda x, qs: F.percentile_approx(x, qs, F.lit(10_000))
    )


# ---------------------------------------------------------------------------
# Round-15: T3 parameter sizing — the session-gap sweep (T18)
# ---------------------------------------------------------------------------

#: Candidate inactivity gaps (minutes) for the T3 session window — the
#: sweep brackets the deployed 30-minute gap one octave each way.
_SESSION_GAP_SWEEP_MIN = (10, 30, 60)


@register(
    "stream_session_gap_sweep",
    oracle=f"""
    WITH l AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER
               (PARTITION BY user_id ORDER BY ts)) AS gap_us
      FROM events
    ),
    u AS (
      SELECT COUNT(DISTINCT user_id) AS n_users,
             COUNT(*) AS n_events
      FROM events
    ),
    spans AS (
      SELECT COALESCE(SUM(epoch_us(mx) - epoch_us(mn)), 0) AS span_us
      FROM (SELECT user_id, MIN(ts) AS mn, MAX(ts) AS mx
            FROM events GROUP BY user_id)
    ),
    axis AS (SELECT unnest(ARRAY{list(_SESSION_GAP_SWEEP_MIN)}) AS gap_minutes),
    per_gap AS (
      SELECT a.gap_minutes,
             COUNT(CASE WHEN l.gap_us >= CAST(a.gap_minutes AS BIGINT) * 60000000
                        THEN 1 END) AS n_cuts,
             COALESCE(SUM(CASE WHEN l.gap_us >= CAST(a.gap_minutes AS BIGINT) * 60000000
                               THEN l.gap_us END), 0) AS cut_us
      FROM axis a LEFT JOIN l ON TRUE
      GROUP BY a.gap_minutes
    )
    SELECT CAST(gap_minutes AS BIGINT) AS gap_minutes,
           CAST((SELECT n_users FROM u) + n_cuts AS BIGINT) AS n_sessions,
           CASE WHEN (SELECT n_users FROM u) + n_cuts = 0
                THEN CAST(0.0 AS DOUBLE)
                ELSE CAST((SELECT n_events FROM u) AS DOUBLE)
                     / CAST((SELECT n_users FROM u) + n_cuts AS DOUBLE)
           END AS events_per_session,
           CASE WHEN (SELECT n_users FROM u) + n_cuts = 0
                THEN CAST(0.0 AS DOUBLE)
                ELSE CAST((SELECT span_us FROM spans) - cut_us AS DOUBLE)
                     / CAST((SELECT n_users FROM u) + n_cuts AS DOUBLE)
                     / 1000000.0
           END AS mean_session_span_seconds
    FROM per_gap
    """,
)
def stream_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18 EXT: SESSION-GAP sweep — size T3's one parameter (the
    inactivity timeout) by computing, for each candidate gap
    {_SESSION_GAP_SWEEP_MIN} minutes, the session count, mean events
    per session, and mean session span, all in ONE pass. The knee of
    this curve is how a deployment picks the gap; Spark's
    session_window holds state proportional to open sessions, so the
    sweep also prices the state-store footprint before committing a
    streaming job to a timeout (the T15/T16 watermark-sizing
    discipline applied to T3).

    Exactness via the cut identity — no per-gap sessionization needed:
    splitting at inactivity gaps >= g makes
    n_sessions(g) = n_users + #(gaps >= g), and
    total_span(g) = Σ_user (last−first) − Σ_{{gaps >= g}} gap
    (each cut removes exactly its gap from the covered span). One
    user-keyed lag pass computes the gap multiset (deterministic even
    under timestamp ties: equal timestamps yield zero gaps whatever
    the tie order); the sweep is then a 3-row literal axis against
    conditional sums of exact int64 microseconds, with divides last
    and zero-guarded on both engines.

    Scale shape: ONE shuffle (the per-user window — the same exchange
    a real sessionization pays) + an O(1) rollup per axis row; the
    sweep adds literally zero corpus passes over the single-gap
    query. At 100 TB the lag pass is the dominant cost and is paid
    once for all candidate gaps.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = ev.select(
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us")
    )
    u = ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    spans = (
        ev.groupBy("user_id")
        .agg(
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).alias("sp")
        )
        .agg(F.coalesce(F.sum("sp"), F.lit(0)).alias("span_us"))
    )
    axis = spark.createDataFrame(
        [(int(g),) for g in _SESSION_GAP_SWEEP_MIN], "gap_minutes long"
    )
    # Fan the 3-row axis onto the gap stream (broadcast the AXIS — the
    # reverse join order would broadcast the corpus-scale gap relation),
    # then re-anchor on the axis so an empty events table still emits
    # one zero row per candidate gap, like the oracle's LEFT JOIN.
    per_gap_raw = (
        gaps.crossJoin(F.broadcast(axis))
        .groupBy("gap_minutes")
        .agg(
            F.coalesce(
                F.sum(
                    (
                        F.col("gap_us")
                        >= F.col("gap_minutes") * 60000000
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_cuts"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("gap_us")
                        >= F.col("gap_minutes") * 60000000,
                        F.col("gap_us"),
                    )
                ),
                F.lit(0),
            ).alias("cut_us"),
        )
    )
    per_gap = axis.join(per_gap_raw, "gap_minutes", "left").select(
        "gap_minutes",
        F.coalesce("n_cuts", F.lit(0)).alias("n_cuts"),
        F.coalesce("cut_us", F.lit(0)).alias("cut_us"),
    )
    n_sessions = (F.col("n_users") + F.col("n_cuts")).cast("long")
    return (
        per_gap.crossJoin(F.broadcast(u))
        .crossJoin(F.broadcast(spans))
        .select(
            "gap_minutes",
            n_sessions.alias("n_sessions"),
            F.when(n_sessions == 0, F.lit(0.0))
            .otherwise(
                F.col("n_events").cast("double") / n_sessions.cast("double")
            )
            .alias("events_per_session"),
            F.when(n_sessions == 0, F.lit(0.0))
            .otherwise(
                (F.col("span_us") - F.col("cut_us")).cast("double")
                / n_sessions.cast("double")
                / F.lit(1000000.0)
            )
            .alias("mean_session_span_seconds"),
        )
    )


#: T19 shard model: events partition by user key across this many
#: shards (the Kafka-partition shape the merge-lateness audit T17
#: also models).
_WM_SKEW_SHARDS = 8


@register(
    "stream_shard_watermark_skew",
    oracle=f"""
    WITH sh AS (
      SELECT user_id % {_WM_SKEW_SHARDS} AS shard, ts FROM events
    ),
    per AS (
      SELECT shard, COUNT(*) AS n_events, MAX(ts) AS shard_max
      FROM sh GROUP BY shard
    ),
    g AS (
      SELECT MAX(shard_max) AS global_max, MIN(shard_max) AS frontier,
             SUM(n_events) AS n_total
      FROM per
    )
    SELECT CAST(p.shard AS BIGINT) AS shard,
           CAST(p.n_events AS BIGINT) AS n_events,
           CAST(p.n_events AS DOUBLE) / g.n_total AS event_share,
           strftime(p.shard_max, '%Y-%m-%d %H:%M:%S') AS shard_max_ts,
           CAST(epoch_us(g.global_max) - epoch_us(p.shard_max) AS BIGINT)
             // 1000000 AS lag_behind_global_s,
           p.shard_max = g.frontier AS holds_back_watermark,
           CAST(epoch_us(g.global_max) - epoch_us(g.frontier) AS BIGINT)
             // 1000000 AS watermark_stall_s
    FROM per p CROSS JOIN g
    ORDER BY shard
    """,
)
def stream_shard_watermark_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19: per-shard WATERMARK SKEW audit — the idle-partition
    problem measured: with events keyed onto 8 shards (the T17
    Kafka-partition model), a global event-time watermark can only
    advance to the SLOWEST shard's frontier (Spark, like Flink and
    Kafka Streams, takes the min across input partitions). Per shard:
    event count and share, its frontier (max event time), its lag
    behind the global max, whether IT is the shard holding the
    watermark back, and the resulting global stall in seconds. A
    quiet or skewed shard shows up here as minutes of watermark stall
    — which is exactly the extra state every windowed operator
    retains and the extra latency every emit pays. The T15/T16
    audits size the delay parameter; this one finds the INPUT
    imbalance that silently adds to it.

    Exactness: frontiers are exact microsecond timestamps (max/min
    only); lags are integer microsecond differences floor-divided to
    seconds; the share is one IEEE divide. The frontier timestamp is
    emitted as a formatted string (cross-engine type parity).

    Scale shape: one events scan of two columns → an O(shards) hash
    agg (map-side combinable), a 1-row global rollup broadcast back
    onto the shard rows. Nothing downstream of the first agg touches
    the corpus; at 100 TB this is the cheapest possible shape for
    the question.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.select(
        F.pmod("user_id", F.lit(_WM_SKEW_SHARDS)).cast("long").alias("shard"),
        "ts",
    ).groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("ts").alias("shard_max"),
    )
    g = per.agg(
        F.max("shard_max").alias("global_max"),
        F.min("shard_max").alias("frontier"),
        F.sum("n_events").alias("n_total"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "shard",
            "n_events",
            (
                F.col("n_events").cast("double")
                / F.col("n_total").cast("double")
            ).alias("event_share"),
            F.date_format("shard_max", "yyyy-MM-dd HH:mm:ss").alias(
                "shard_max_ts"
            ),
            (
                (
                    F.unix_micros("global_max") - F.unix_micros("shard_max")
                )
                / F.lit(1000000)
            )
            .cast("long")
            .alias("lag_behind_global_s"),
            (F.col("shard_max") == F.col("frontier")).alias(
                "holds_back_watermark"
            ),
            (
                (F.unix_micros("global_max") - F.unix_micros("frontier"))
                / F.lit(1000000)
            )
            .cast("long")
            .alias("watermark_stall_s"),
        )
        .orderBy("shard")
    )


#: Micro-batch sweep axis: candidate trigger sizes in events.
_MB_SIZES = (1024, 4096, 16384)
_MB_WINDOW_US = 3_600_000_000


@register(
    "stream_microbatch_size_sweep",
    oracle=f"""
    WITH e AS (
      SELECT event_id, epoch_us(ts) AS us FROM events
    ),
    b AS (
      SELECT t.bsz, event_id // t.bsz AS bkt, us
      FROM e CROSS JOIN (VALUES {", ".join(f"({s})" for s in _MB_SIZES)})
             t(bsz)
    ),
    per AS (
      SELECT bsz, bkt,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us,
             CAST(COUNT(DISTINCT us // {_MB_WINDOW_US}) AS BIGINT)
               AS n_windows
      FROM b GROUP BY bsz, bkt
    )
    SELECT CAST(bsz AS BIGINT) AS batch_size,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events,
           CAST(MAX(span_us) AS BIGINT) AS max_span_us,
           CAST(SUM(span_us) AS DOUBLE) / COUNT(*) AS avg_span_us,
           CAST(MAX(n_windows) AS BIGINT) AS max_windows,
           CAST(SUM(n_windows) AS DOUBLE) / COUNT(*) AS avg_windows
    FROM per GROUP BY bsz ORDER BY batch_size
    """,
)
def stream_microbatch_size_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T20: MICRO-BATCH TRIGGER sizing sweep — for candidate trigger
    sizes (1024 / 4096 / 16384 events per batch,
    arrival order = event_id), the per-batch work profile a
    Structured Streaming job would see: batch count, mean events, the
    event-time span a batch covers (how much watermark advance each
    commit buys), and how many 1-hour aggregation windows a batch
    touches (the state-store churn per commit). Small triggers =
    frequent commits touching few windows; large triggers = fewer,
    fatter commits. This curve plus the lateness/state audits
    (T15/T16) is the full trigger + watermark decision.

    Exactness: batch ids are integer division on the arrival key;
    spans and window counts are exact int64 microsecond arithmetic;
    the three averages are single IEEE divides of exact sums.

    Scale shape: one two-column events scan exploded |axis|× into a
    map-side-combinable (size, batch) agg, then an O(batches) rollup
    to |axis| rows. No global window at all — the per-batch grain is
    keyed, not scanned.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    axis = F.array(*[F.lit(s).cast("long") for s in _MB_SIZES])
    b = ev.select("event_id", "us", F.explode(axis).alias("bsz")).select(
        "bsz",
        F.expr("event_id div bsz").alias("bkt"),
        "us",
    )
    per = b.groupBy("bsz", "bkt").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("us") - F.min("us")).cast("long").alias("span_us"),
        F.countDistinct(F.expr(f"us div {_MB_WINDOW_US}"))
        .cast("long")
        .alias("n_windows"),
    )
    return (
        per.groupBy(F.col("bsz").alias("batch_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            (
                F.sum("n_events").cast("double") / F.count(F.lit(1))
            ).alias("avg_events"),
            F.max("span_us").cast("long").alias("max_span_us"),
            (
                F.sum("span_us").cast("double") / F.count(F.lit(1))
            ).alias("avg_span_us"),
            F.max("n_windows").cast("long").alias("max_windows"),
            (
                F.sum("n_windows").cast("double") / F.count(F.lit(1))
            ).alias("avg_windows"),
        )
        .orderBy("batch_size")
    )


@register(
    "stream_dedup_horizon_sweep",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      FROM events
    ),
    g AS (
      SELECT us - LAG(us) OVER (PARTITION BY user_id, event_type
                                ORDER BY us, event_id) AS gap
      FROM e
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM e)
    SELECT CAST(t.w_hours AS BIGINT) AS horizon_hours,
           n.n_events,
           CAST(COUNT(CASE WHEN g.gap IS NOT NULL AND g.gap <= t.w_us
                           THEN 1 END) AS BIGINT) AS n_suppressed,
           CAST(COUNT(CASE WHEN g.gap IS NOT NULL AND g.gap <= t.w_us
                           THEN 1 END) AS DOUBLE) / n.n_events
             AS suppress_share
    FROM (VALUES {", ".join(f"({h}, {us})" for h, us in _WM_DELAYS)})
           t(w_hours, w_us)
    CROSS JOIN g CROSS JOIN n
    GROUP BY t.w_hours, n.n_events
    ORDER BY horizon_hours
    """,
)
def stream_dedup_horizon_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T21: DEDUP-HORIZON sweep — the tuning curve for streaming
    deduplication (T4 `dropDuplicatesWithinWatermark`): for each
    candidate horizon (1 h / 6 h / 24 h), how many events sit within
    the horizon of their (user, event_type) PREDECESSOR and would be
    suppressed as repeats. Too short re-admits retry storms; too long
    holds per-key state the state audit (T16) prices. Predecessor-gap
    semantics (each event vs the previous one) is the deliberate,
    well-defined batch mirror — a stateful last-EMITTED comparison is
    the T4 runtime's own behavior and is pinned by the streaming
    tests, not an oracle.

    Exactness: gaps are exact int64 microseconds over a deterministic
    (us, event_id) order; the axis comparison and counts are integer;
    the share is one IEEE divide.

    Scale shape: the lag window is keyed by (user, event_type) —
    millions of small partitions, no global sort; the sweep explodes
    only the O(1) axis against the gap relation inside one
    map-side-combinable agg.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "us", "event_id"
    )
    g = ev.select((F.col("us") - F.lag("us").over(w)).alias("gap"))
    n = ev.agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    axis = F.array(
        *[
            F.struct(
                F.lit(h).cast("long").alias("w_hours"),
                F.lit(us).alias("w_us"),
            )
            for h, us in _WM_DELAYS
        ]
    )
    return (
        g.select(F.explode(axis).alias("w"), "gap")
        .groupBy(F.col("w.w_hours").alias("horizon_hours"))
        .agg(
            F.sum(
                F.when(
                    F.col("gap").isNotNull()
                    & (F.col("gap") <= F.col("w.w_us")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_suppressed")
        )
        .crossJoin(F.broadcast(n))
        .select(
            "horizon_hours",
            "n_events",
            "n_suppressed",
            (
                F.col("n_suppressed").cast("double")
                / F.col("n_events").cast("double")
            ).alias("suppress_share"),
        )
        .orderBy("horizon_hours")
    )


#: Micro-batch split for the true-streaming near-dup admission witness:
#: the batch slice is staged as this many landing-zone files so the
#: availableNow run admits it in multiple ordered micro-batches.
_ND_STREAM_CHUNKS = 4


@register("stream_true_neardup_admission", oracle=None)
def stream_true_neardup_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T22 — TRUE-STREAMING twin of ``llm_incremental_neardup`` (J23),
    the streaming × dedup cell of the matrix: incoming documents arrive
    as a real ``readStream`` (parquet landing zone, one file per
    micro-batch), and each micro-batch's MinHash bands are probed
    against the STANDING S21 band store (the corpus side, with the
    same ``_LSH_BUCKET_CAP`` mega-bucket guard) inside ``foreachBatch``
    — the production shape of continuous near-dup admission: the
    expensive corpus index is write-time state, the per-batch work is
    banding the batch and one equi-join.

    Rows-only by the driver contract's carve-out (a true streaming run
    is non-SQL-expressible); correctness is the batch-parity pin in
    tests/test_round17_ops_invariants.py: the union of per-micro-batch
    decisions must EQUAL the batch query's output on the same corpus
    split (admission against a static store is per-doc independent, so
    batching cannot change any decision — that invariance is exactly
    what the test asserts).

    Scale shape: the corpus side is the bucketed S21 store (exchange-
    free probe joins); each micro-batch tokenizes/bands only its own
    files; decisions are appended per batch (here accumulated to the
    driver — bounded by the batch slice; production would
    ``foreachBatch``-write to a sink exactly like the exactly-once
    DuckDB sink, T8).
    """
    import os
    import tempfile

    from ..schemas import TESTDATA_SCHEMAS
    from .llm_ops import (
        _INC_ND_MOD,
        _INC_ND_REM,
        _LSH_BUCKET_CAP,
        _admission_verdict,
        _capped_buckets,
        _tokens,
        _word_ngrams,
        minhash_bands,
        minhash_bands_stored,
    )

    bands = minhash_bands_stored(spark, sf_dir)
    is_batch = (F.col("doc_id") % _INC_ND_MOD) == _INC_ND_REM
    corpus = bands.filter(~is_batch)
    ok_buckets = _capped_buckets(corpus, ["band_idx", "key"], _LSH_BUCKET_CAP)
    corpus_side = corpus.select(
        "band_idx", "key", F.col("doc_id").alias("corpus_doc")
    )

    collected: list = []

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        sh = batch_df.select(
            "doc_id", F.explode(_word_ngrams(_tokens())).alias("s")
        )
        b = minhash_bands(sh)
        hits = (
            b.join(ok_buckets, ["band_idx", "key"])
            .join(corpus_side, ["band_idx", "key"])
            .groupBy("doc_id")
            .agg(F.countDistinct("corpus_doc").alias("n_corpus_neighbors"))
        )
        out = _admission_verdict(
            batch_df.select("doc_id").distinct(), hits, "doc_id"
        )
        for r in out.collect():
            collected.append(
                (
                    int(epoch_id),
                    r["doc_id"],
                    r["n_corpus_neighbors"],
                    r["admitted"],
                )
            )

    batch_docs = load_table(spark, sf_dir, "documents").filter(is_batch)
    with tempfile.TemporaryDirectory(prefix="scdb_nd_stream_") as landing:
        for i in range(_ND_STREAM_CHUNKS):
            chunk = batch_docs.filter(
                (F.col("doc_id") / _INC_ND_MOD).cast("long")
                % _ND_STREAM_CHUNKS
                == i
            )
            stage = os.path.join(landing, f"_stage{i}")
            chunk.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            os.rename(
                os.path.join(stage, part),
                os.path.join(landing, f"chunk{i}.parquet"),
            )
        stream = (
            spark.readStream.schema(TESTDATA_SCHEMAS["documents"])
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "chunk*.parquet")
            .parquet(landing)
        )
        q = (
            stream.writeStream.foreachBatch(admit)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.createDataFrame(
        collected,
        "batch_id long, doc_id long, n_corpus_neighbors long, "
        "admitted boolean",
    ).orderBy("doc_id")
