"""Relational surface extensions (SURVEY.md J5, A5-A6, O4, W1-W2, SET,
F19) — the gaps beyond ``relational.py``'s core: as-of and band joins,
cube/grouping sets, EXCEPT ALL, full ranking/analytic window variants,
seeded sampling, approximate distinct, and the events props map surface.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import dec, dsum, dsum_expr
from ..sources.tables import load_table
from .materialize import fan_out_if_narrow, pin
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Aggregations: approx distinct (CUBE / GROUPING SETS / EXCEPT ALL merged
# into relational.py's agg_grouping_shapes / set_ops_customer_keys)
# ---------------------------------------------------------------------------


@register("agg_approx_distinct_users", oracle=None)
def agg_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: HyperLogLog++ approximate distinct (rows-only: HLL sketches
    are implementation-specific, so no cross-engine hash check — the
    test asserts the estimate lands within the configured rsd of the
    exact count)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("event_id", rsd=0.02).alias("approx_events"),
    )


@register("sample_orders_seeded", oracle=None)
def sample_orders_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: seeded Bernoulli sampling (reference db.rs:123-145 picks
    random rows). Deterministic for a fixed seed+partitioning within
    Spark, but RNG streams differ across engines — rows-only check."""
    return (
        _t(spark, sf_dir, "orders")
        .sample(fraction=0.1, seed=42)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Window variants: full ranking + analytic families
# ---------------------------------------------------------------------------


@register(
    "window_rank_variants",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 full family: rank / dense_rank / ntile / percent_rank over a
    totally-ordered window (orderkey tie-break ⇒ deterministic)."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# J5: as-of join + band (range) join
# ---------------------------------------------------------------------------


@register(
    "join_asof_latest_order",
    oracle="""
    WITH od AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
      FROM orders
      QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                 ORDER BY o_orderkey DESC) = 1
    )
    SELECT e.event_id, e.user_id,
           o.o_orderkey AS order_key, o.o_totalprice AS order_price
    FROM events e
    ASOF JOIN od o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: as-of join — for each event, the user's most recent order at
    or before the event time.

    Spark has no ASOF JOIN operator; the scalable equivalent is the
    union + running-``last`` trick: tag both streams, sort within user
    by (time, tag), and carry the latest order forward with
    ``last(..., ignorenulls)`` over a running frame. ONE shuffle on the
    join key (same as a sort-merge join would pay) and no point-in-time
    subquery per row — this is the plan that survives 100 TB. Orders are
    first deduped per (custkey, date) so ties can't make the match
    nondeterministic (the oracle dedupes identically).
    """
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    w_dedup = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey")
    )
    od = (
        orders.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("t"),
            F.struct("o_orderkey", "o_totalprice").alias("ord"),
        )
        .withColumn("tag", F.lit(0))
        .withColumn("event_id", F.lit(None).cast("long"))
    )
    ev = events.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(None).cast("struct<o_orderkey:bigint,o_totalprice:double>").alias(
            "ord"
        ),
        F.lit(1).alias("tag"),
        "event_id",
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("t", "tag", F.col("ord.o_orderkey").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = od.unionByName(ev).withColumn(
        "matched", F.last("ord", ignorenulls=True).over(w_run)
    )
    return (
        merged.filter((F.col("tag") == 1) & F.col("matched").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("matched.o_orderkey").alias("order_key"),
            F.col("matched.o_totalprice").alias("order_price"),
        )
    )


@register(
    "join_range_event_pairs",
    oracle="""
    SELECT a.user_id, COUNT(*) AS n_pairs
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '1 minute'
    GROUP BY a.user_id
    """,
)
def join_range_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: band (interval) self-join — pairs of same-user events within
    one minute.

    The equi key (user_id) carries the shuffle, so Spark plans a
    sort-merge join with the band predicates as post-join filters —
    per-user buckets only, never a cartesian across users. At 100 TB
    the refinement is bucketing both sides by time window (join on
    user × window, window ∈ {w, w+1}) to bound the per-key scan.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    a, b = ev.alias("a"), ev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 MINUTE")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# F19: events props as a typed map
# ---------------------------------------------------------------------------


@register(
    "scalar_map_explode_props",
    oracle="""
    SELECT k AS prop_key,
           COUNT(*) AS n_events,
           COUNT(DISTINCT json_extract_string(props, '$.' || k)) AS n_values,
           MIN(TRY_CAST(json_extract_string(props, '$.' || k) AS BIGINT)) AS min_v,
           MAX(TRY_CAST(json_extract_string(props, '$.' || k) AS BIGINT)) AS max_v
    FROM events, unnest(json_keys(props)) u(k)
    GROUP BY k
    """,
)
def scalar_map_explode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/F19: props JSON decoded as a typed map and exploded to
    key-level stats — ``from_json(MapType)`` + ``explode``, the full
    map surface (vs. the point access in scalar_json_props_events)."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return (
        ev.select(F.explode(m).alias("prop_key", "v"))
        .groupBy("prop_key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("v").alias("n_values"),
            F.min(F.col("v").try_cast("bigint")).alias("min_v"),
            F.max(F.col("v").try_cast("bigint")).alias("max_v"),
        )
    )


@register(
    "agg_percentile_prices",
    oracle="""
    SELECT o_orderpriority,
           q[1] AS p25, q[2] AS p50, q[3] AS p75, q[4] AS p99,
           n
    FROM (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, [0.25, 0.5, 0.75, 0.99]) AS q,
             COUNT(*) AS n
      FROM orders
      GROUP BY o_orderpriority
    )
    """,
)
def agg_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5-adjacent: EXACT interpolated percentiles per group —
    ``percentile`` (Spark) vs ``quantile_cont`` (DuckDB) agree bitwise
    because both interpolate linearly between the same order statistics
    of the same doubles. The exact form is the oracle-checkable anchor;
    at corpus scale the same query swaps to ``percentile_approx``
    (t-digest sketch, mergeable map-side, no full sort per group) — the
    approximate twin has no cross-engine oracle by nature, which is why
    the exact one carries the correctness row (pytest-swept; the driver
    window takes it in its evidence-rotation turn).
    """
    orders = _t(spark, sf_dir, "orders")
    q = F.expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.99D))")
    return (
        orders.groupBy("o_orderpriority")
        .agg(q.alias("q"), F.count(F.lit(1)).alias("n"))
        .select(
            "o_orderpriority",
            F.col("q")[0].alias("p25"),
            F.col("q")[1].alias("p50"),
            F.col("q")[2].alias("p75"),
            F.col("q")[3].alias("p99"),
            "n",
        )
    )


@register("agg_percentile_prices_approx", oracle=None)
def agg_percentile_prices_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale twin of ``agg_percentile_prices`` (rows-only:
    ``percentile_approx`` is a Greenwald-Khanna sketch whose outputs are
    implementation-defined — no cross-engine oracle can exist; pytest
    bounds its rank error against the exact form instead,
    ``tests/test_percentile_approx_twin.py``).

    Scale shape: the exact ``percentile`` buffers and sorts every value
    of a group on one reducer — at 100 TB a single hot group OOMs it.
    The sketch aggregate is mergeable, so it combines map-side like any
    hash agg (partial sketches shuffle, not rows); accuracy 1/10000 ⇒
    rank error ≤ 0.01% of each group, far below any decision threshold
    a data-mixing pipeline would set on a price/length percentile.
    """
    orders = _t(spark, sf_dir, "orders")
    q = F.expr(
        "percentile_approx(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.99D), 10000)"
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(q.alias("q"), F.count(F.lit(1)).alias("n"))
        .select(
            "o_orderpriority",
            F.col("q")[0].alias("p25"),
            F.col("q")[1].alias("p50"),
            F.col("q")[2].alias("p75"),
            F.col("q")[3].alias("p99"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Round-6 analytics: histograms, funnels, tolerant as-of (A-EXT, J5-EXT)
# ---------------------------------------------------------------------------

#: Equi-width histogram bucket size for order prices (25 buckets over
#: the TPC-H-ish 1k..500k price range).
_HIST_WIDTH = 20_000.0


@register(
    "agg_histogram_prices",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(o_totalprice / {_HIST_WIDTH}) AS BIGINT) AS bucket,
             COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS val
      FROM orders GROUP BY 1
    )
    SELECT bucket,
           CAST(bucket * {int(_HIST_WIDTH)} AS BIGINT) AS lo,
           CAST(n AS BIGINT) AS n_orders,
           CAST(val AS DOUBLE) AS bucket_value,
           CAST(SUM(n) OVER (ORDER BY bucket
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS cum_orders,
           CAST(n AS DOUBLE) / SUM(n) OVER () AS share
    FROM b
    """,
)
def agg_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: equi-width histogram of order prices with cumulative
    counts and per-bucket share — the distribution profile an analyst
    (or an optimizer statistics job) reads before picking thresholds.
    Fixed-width bucketing keys the ONE aggregation shuffle; the window
    pass runs over the O(buckets) aggregate, not the fact table.

    Exactness: bucket ids are floor of a deterministic double division;
    per-bucket sums use the DECIMAL money rule; cumulative counts are
    integers; share is one double division per bucket.

    Scale shape: fact-table scan → hash agg on ~25 bucket keys (map-side
    combine collapses everything before the shuffle) → window over the
    tiny aggregate on a single partition — constant-size final stage no
    matter the input size.
    """
    orders = _t(spark, sf_dir, "orders")
    b = (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / _HIST_WIDTH)
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("val"),
        )
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return b.select(
        "bucket",
        (F.col("bucket") * int(_HIST_WIDTH)).cast("long").alias("lo"),
        F.col("n").cast("long").alias("n_orders"),
        F.col("val").cast("double").alias("bucket_value"),
        F.sum("n").over(w_cum).cast("long").alias("cum_orders"),
        (F.col("n").cast("double") / F.sum("n").over(w_all)).alias("share"),
    )


@register(
    "funnel_conversion_events",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    s AS (
      SELECT 1 AS stage_idx, 'view' AS stage, COUNT(*) AS n FROM v
      UNION ALL
      SELECT 2, 'click', COUNT(*) FROM c
      UNION ALL
      SELECT 3, 'purchase', COUNT(*) FROM p
    )
    SELECT stage_idx, stage,
           CAST(n AS BIGINT) AS n_users,
           CAST(n AS DOUBLE)
             / lag(n) OVER (ORDER BY stage_idx) AS conv_from_prev,
           CAST(n AS DOUBLE)
             / first_value(n) OVER (ORDER BY stage_idx) AS conv_from_top
    FROM s
    """,
)
def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: ordered funnel analysis — users progressing through
    view → click → purchase IN ORDER (each stage strictly after the
    user's first event of the previous stage), with step and top-of-
    funnel conversion rates. The sequence constraint is what a plain
    per-type COUNT DISTINCT gets wrong.

    Built as a cascade of conditional min-aggregations joined on the
    user key: stage k is a filter + equi-join against stage k−1's
    first-hit times + min-agg — every step shuffles on user_id only
    (uniform), no window over raw events, no per-user sort. The final
    3-row report runs its lag/first_value window on a single
    partition of constant size.

    Exactness: timestamps and counts are exact; the two conversion
    ratios are one double division each.
    """
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "n"
        )

    s = (
        stage(v, 1, "view")
        .unionByName(stage(c, 2, "click"))
        .unionByName(stage(p, 3, "purchase"))
    )
    w = Window.orderBy("stage_idx")
    return s.select(
        "stage_idx",
        "stage",
        F.col("n").cast("long").alias("n_users"),
        (F.col("n").cast("double") / F.lag("n").over(w)).alias(
            "conv_from_prev"
        ),
        (F.col("n").cast("double") / F.first("n").over(w)).alias(
            "conv_from_top"
        ),
    )


@register(
    "join_asof_tolerance",
    oracle="""
    WITH clk AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'click'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) = 1
    ),
    err AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    )
    SELECT event_id, user_id, click_id, click_age_minutes
    FROM (
      SELECT e.event_id, e.user_id,
             c.event_id AS click_id,
             CAST(epoch_us(e.ts - c.ts) AS DOUBLE) / 60000000
               AS click_age_minutes
      FROM err e
      ASOF JOIN clk c
        ON e.user_id = c.user_id AND e.ts >= c.ts
    )
    WHERE click_age_minutes <= 120
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 EXT: as-of join WITH TOLERANCE — each error event is matched
    to the same user's most recent click at or before it, and the match
    is DISCARDED when staler than 2 hours (pandas
    ``merge_asof(tolerance=...)`` semantics: stale context must not be
    attributed to the failure). Same union + running-``last`` plan as
    `join_asof_latest_order` — ONE shuffle on the join key — with the
    staleness bound applied as a post-match filter and the match age
    surfaced in minutes for freshness monitoring. Clicks are deduped
    per (user, ts) first so equal-timestamp ties can't make the match
    nondeterministic (the oracle dedupes identically).

    Exactness: the age is an exact integer microsecond difference with
    one double division; the 120-minute boundary (7.2e9 µs / 6e7) is
    exactly representable, so the filter can't straddle a rounding
    edge.
    """
    events = _t(spark, sf_dir, "events")
    w_dedup = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clk = (
        events.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("t"),
            F.struct(F.col("event_id").alias("click_id"),
                     F.col("ts").alias("click_ts")).alias("clk"),
        )
        .withColumn("tag", F.lit(0))
        .withColumn("event_id", F.lit(None).cast("long"))
    )
    err = events.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(None)
        .cast("struct<click_id:bigint,click_ts:timestamp>")
        .alias("clk"),
        F.lit(1).alias("tag"),
        "event_id",
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("t", "tag", F.col("clk.click_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = clk.unionByName(err).withColumn(
        "matched", F.last("clk", ignorenulls=True).over(w_run)
    )
    age_min = (
        F.unix_micros("t") - F.unix_micros(F.col("matched.click_ts"))
    ).cast("double") / F.lit(60000000.0)
    return (
        merged.filter((F.col("tag") == 1) & F.col("matched").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("matched.click_id").alias("click_id"),
            age_min.alias("click_age_minutes"),
        )
        .filter(F.col("click_age_minutes") <= 120)
    )


@register(
    "window_rolling_zscore_events",
    oracle="""
    WITH c AS (
      SELECT event_id, event_type, value, ts,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events
    ),
    w AS (
      SELECT event_id, event_type, value, x,
             COUNT(*) OVER win AS n,
             SUM(x) OVER win AS s1,
             SUM(x * x) OVER win AS s2
      FROM c
      WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type, value,
           CAST(n AS BIGINT) AS n_prior,
           CASE WHEN n * s2 - s1 * s1 > 0 THEN
             (CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
               / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)))
           ELSE NULL END AS zscore,
           COALESCE(abs(CASE WHEN n * s2 - s1 * s1 > 0 THEN
             (CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
               / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1)))
           ELSE NULL END) > 3, FALSE) AS is_anomaly
    FROM w WHERE n >= 20
    """,
)
def window_rolling_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-EXT: rolling z-score anomaly detection — each event's value
    against the mean/std of the SAME type's previous ≤100 events
    (current row excluded, so the score is history-vs-now; rows with
    under 20 priors are withheld as unscorable). The per-metric
    monitoring primitive a pipeline health dashboard runs.

    Cross-engine exactness: rolling float moments are summation-order-
    dependent, so the 2-decimal values are scaled to EXACT integer
    cents first; the frame's Σx and Σx² are int64, the variance
    numerator n·Σx² − (Σx)² is exact integer algebra, and mean/std/z
    are a fixed chain of double ops on those integers — deterministic
    on both engines. A zero-variance frame yields NULL, not a NaN that
    would poison the hash.

    Scale shape: ONE shuffle on event_type; within a partition the
    frame is an O(1)-memory sliding sum (Spark's bounded-frame window
    keeps 100 rows, not the partition). A high-cardinality metric key
    (type × host) keeps partitions narrow at 100 TB; a single hot type
    is the documented window-skew case for salting.
    """
    ev = _t(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("long")
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-100, -1)
    )
    c = ev.select("event_id", "event_type", "value", "ts", x.alias("x"))
    w = c.select(
        "event_id",
        "event_type",
        "value",
        "x",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("s1"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("s2"),
    ).filter(F.col("n") >= 20)
    var_num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    mean = F.col("s1").cast("double") / F.col("n")
    std = F.sqrt(
        var_num.cast("double") / (F.col("n") * (F.col("n") - 1))
    )
    z = F.when(var_num > 0, (F.col("x").cast("double") - mean) / std)
    return w.select(
        "event_id",
        "event_type",
        "value",
        F.col("n").cast("long").alias("n_prior"),
        z.alias("zscore"),
        F.coalesce(F.abs(z) > 3, F.lit(False)).alias("is_anomaly"),
    )


@register(
    "agg_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    ),
    sizes AS (
      SELECT cohort_day, COUNT(*) AS cohort_size
      FROM first_seen GROUP BY cohort_day
    )
    SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_day,
           a.day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(COUNT(*) AS DOUBLE) / s.cohort_size AS retention
    FROM active a JOIN sizes s ON a.cohort_day = s.cohort_day
    WHERE a.day_offset <= 7
    GROUP BY a.cohort_day, a.day_offset, s.cohort_size
    """,
)
def agg_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: COHORT RETENTION — users grouped by first-seen day, and
    for each cohort the fraction still active N days later (the
    triangle matrix every growth dashboard opens with; first week
    shown). Funnel (A12) measures a conversion SEQUENCE; this measures
    RECURRING presence — the two canonical behavioral reports.

    Scale shape: first-seen is one user-keyed min-agg; activity is a
    user-keyed equi-join back to events + DISTINCT on (user, cohort,
    offset) — all shuffles ride the uniform user key, then the matrix
    rollup groups a relation already reduced to ≤ users × 8 rows.
    Exactness: dates and counts are exact; retention is one double
    division.
    """
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
        .filter(F.col("day_offset") <= 7)
    )
    sizes = first_seen.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        active.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(sizes, "cohort_day")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            (
                F.col("n_active").cast("double") / F.col("cohort_size")
            ).alias("retention"),
        )
    )


@register(
    "agg_cumulative_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d
      FROM events GROUP BY user_id
    ),
    new_daily AS (
      SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY d
    ),
    act AS (
      SELECT CAST(ts AS DATE) AS d,
             COUNT(*) AS n_events,
             COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    )
    SELECT strftime(a.d, '%Y-%m-%d') AS day,
           CAST(a.n_events AS BIGINT) AS n_events,
           CAST(a.dau AS BIGINT) AS dau,
           CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY a.d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cumulative_users
    FROM act a LEFT JOIN new_daily n ON n.d = a.d
    """,
)
def agg_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: the daily ACTIVITY report — events/day, DAU, new users,
    and cumulative distinct users (the growth curve next to A15's
    retention triangle). Cumulative DISTINCT is normally a hard
    streaming-state problem; keyed by FIRST-SEEN day it collapses to
    an ordinary integer cumsum over a tiny daily aggregate — the
    user-keyed min-agg resolves distinctness once, and the window runs
    over O(days) rows. DAU itself is the per-day expand+two-phase
    count(DISTINCT) Spark plans without per-group sets.
    """
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    new_daily = first_seen.groupBy("d").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    act = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("dau"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    joined = act.join(new_daily, "d", "left").select(
        "d",
        "n_events",
        "dau",
        F.coalesce("new_users", F.lit(0)).alias("new_users"),
    )
    return joined.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("dau").cast("long").alias("dau"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@register(
    "agg_profit_by_nation_type",
    oracle="""
    SELECT n.n_name AS nation,
           p.p_type AS part_type,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(10 * CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    - CAST(l.l_quantity AS BIGINT)
                      * CAST(round(p.p_retailprice * 100) AS BIGINT))
             AS DOUBLE) / 1000 AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name, p.p_type
    """,
)
def agg_profit_by_nation_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/A4 over the LAST two untouched testdata tables — the TPC-H
    Q9 shape: margin (revenue − supply-cost proxy, costing each unit a
    tenth of retail) rolled up by supplier nation × part type through
    the lineitem ⋈ part ⋈ supplier ⋈ nation snowflake. Every testdata
    table now backs at least one registered query.

    Exactness: both money terms scale to EXACT integer DECI-CENTS
    (`round(x*100)` is safe for 2-decimal data — the z-score rule —
    and the ×10 rescale keeps the whole expression on int64 with NO
    inner division), the quantity is model-integral (asserted in the
    invariants test), and the sum is an exact int64 with ONE double
    division at the end. Two rejected routes: mixed decimal ×/÷
    (Spark and DuckDB promote precision/scale differently, which
    double-rounds) and an inner integer /10 (`/` is float division in
    DuckDB but long division in Spark — different types summing in
    different orders).

    Scale shape: part and supplier are SF-proportional, so NO explicit
    broadcast (the r1 lesson) — the threshold/AQE broadcasts them
    while small and falls back to shuffle joins at 100 TB; nation
    (25 rows, SF-constant) is the only hinted dim; the rollup is a
    two-key hash agg with map-side combine.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev_dc = F.round(F.col("l_extendedprice") * 100).cast("long") * 10
    cost_dc = (
        F.col("l_quantity").cast("long")
        * F.round(F.col("p_retailprice") * 100).cast("long")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("p_type").alias("part_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            # deci-cent deltas widen to DECIMAL(38,0) before the SUM:
            # a 100 TB group's total leaves int64 (the correlation
            # probe lesson — budget the AGGREGATE's digits, not the
            # row's); DuckDB's SUM(BIGINT) is already 128-bit
            (
                F.sum((rev_dc - cost_dc).cast("decimal(38,0)")).cast("double")
                / 1000
            ).alias("profit"),
        )
    )


@register(
    "agg_key_skew_report",
    oracle="""
    WITH per_key AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ),
    st AS (
      SELECT COUNT(*) AS n_keys,
             SUM(c) AS n_rows,
             MAX(c) AS max_c,
             quantile_cont(CAST(c AS DOUBLE), [0.5, 0.99]) AS q
      FROM per_key
    )
    SELECT CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(max_c AS BIGINT) AS max_rows_per_key,
           CAST(max_c AS DOUBLE) / n_rows AS top_key_share,
           q[1] AS p50_rows_per_key,
           q[2] AS p99_rows_per_key,
           q[2] / q[1] AS p99_over_p50
    FROM st
    """,
)
def agg_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT operational: the JOIN-PLANNING SKEW REPORT for a candidate
    shuffle key — key count, hottest-key share, and the p99/p50
    rows-per-key ratio. This is the measurement that decides between a
    plain shuffle join, AQE skew handling, and the explicit
    `functions/skew.py` toolkit (salted agg / hot-key split join):
    measure, don't guess, applied to the engine's own planning.

    Exactness: per-key counts are exact; percentiles interpolate the
    same order statistics on both engines (the `agg_percentile_prices`
    anchor); shares and ratios are single divisions. Scale shape: one
    key-rollup (map-side combined — output is O(keys)), then a 1-row
    reduction; at 100 TB the exact percentile swaps for the
    `percentile_approx` mergeable twin.
    """
    ev = _t(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    q = F.expr("percentile(CAST(c AS DOUBLE), array(0.5D, 0.99D))")
    return (
        per_key.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c").alias("n_rows"),
            F.max("c").alias("max_c"),
            q.alias("q"),
        )
        .select(
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("max_c").cast("long").alias("max_rows_per_key"),
            (F.col("max_c").cast("double") / F.col("n_rows")).alias(
                "top_key_share"
            ),
            F.col("q")[0].alias("p50_rows_per_key"),
            F.col("q")[1].alias("p99_rows_per_key"),
            (F.col("q")[1] / F.col("q")[0]).alias("p99_over_p50"),
        )
    )


@register(
    "window_streaks_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grouped AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, COUNT(*) AS len,
             MIN(d) AS streak_start
      FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(len AS BIGINT) AS longest_streak,
           strftime(streak_start, '%Y-%m-%d') AS streak_start
    FROM streaks
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY len DESC, streak_start) = 1
    """,
)
def window_streaks_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-EXT: GAPS-AND-ISLANDS — each user's longest run of consecutive
    active days (and when it started): the engagement-streak metric,
    and the canonical SQL pattern the window family was missing. The
    island key is the date-minus-row_number trick: consecutive days
    share `d − row_number`, so islands fall out of one per-user window
    plus one hash agg — no self-join, no iteration.

    Exactness: dates, integer arithmetic, deterministic (len DESC,
    start) tie-break. Scale shape: both the window and the rollup key
    on the uniform user_id; the relation entering the window is
    already deduped to (user, day) grain.
    """
    ev = _t(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = days.withColumn(
        "grp", F.date_sub("d", F.row_number().over(w))
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("d").alias("streak_start"),
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.desc("len"), "streak_start"
    )
    return (
        streaks.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").cast("long").alias("longest_streak"),
            F.date_format("streak_start", "yyyy-MM-dd").alias(
                "streak_start"
            ),
        )
    )


#: Pivot columns are a FIXED list on both engines: a data-driven pivot
#: (Spark's two-pass distinct scan) makes the output schema depend on
#: the data, which breaks schema-stable downstream code AND costs an
#: extra corpus pass at scale.
_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "agg_pivot_daily_event_matrix",
    oracle=f"""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           {", ".join(
             "CAST(SUM(CASE WHEN event_type = '" + t + "' THEN 1 ELSE 0 END)"
             " AS BIGINT) AS n_" + t
             for t in _PIVOT_TYPES
           )},
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM events
    GROUP BY 1
    """,
)
def agg_pivot_daily_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: PIVOT — the day × event-type count matrix (wide report
    shape) with an EXPLICIT value list, so the output schema stays
    data-independent (no distinct-scan pass) — the form that composes
    with downstream code and survives 100 TB. Both engines spell it as
    conditional aggregation — exactly what Catalyst lowers an
    explicit-values ``.pivot()`` to (one hash agg, map-side combined;
    no extra shuffle versus a plain groupBy) — so ``n_total`` can ride
    the same pass as a true COUNT(*) that stays honest even if the
    data grows an event_type outside the allowlist.
    """
    ev = _t(spark, sf_dir, "events")
    # n_total is a real COUNT(*) in the SAME single aggregation pass
    # (not a sum of the pivot columns): if events ever gains an
    # event_type outside _PIVOT_TYPES the total still counts it, same
    # as the oracle's COUNT(*). Spelled as conditional aggregation —
    # the exact form Catalyst lowers an explicit-values pivot to (one
    # hash agg, map-side combined) — because ``.pivot()`` cannot carry
    # a non-pivoted aggregate alongside the per-value ones.
    return ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        *[
            F.sum(
                F.when(F.col("event_type") == t, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias(f"n_{t}")
            for t in _PIVOT_TYPES
        ],
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )


@register(
    "agg_metric_correlation_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             COUNT(*) AS x,
             SUM(CAST(round(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM daily
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             AS pearson_r
    FROM m
    """,
)
def agg_metric_correlation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: Pearson correlation between two operational metrics
    (daily event count vs daily total value) with EXACT moments —
    built-in ``corr()`` accumulates doubles in partition order and can
    never be cross-engine-verified; here both metrics reduce to int64
    (counts; value in exact cents), all five moment sums are exact
    integers over the O(days) relation, and r comes out of one fixed
    chain of double ops. The same recipe generalizes to any
    metric-pair correlation matrix a monitoring pipeline tracks.

    Scale shape: one date-keyed hash agg (map-side combined) collapses
    the fact table to O(days) rows; the moment reduction is a 1-row
    aggregate. Overflow: moment PRODUCTS leave int64 fast (Σy² at a
    ~$1.7M/day cents metric — the 10× probe caught exactly this as an
    ANSI ARITHMETIC_OVERFLOW), so x/y widen to DECIMAL(38,0) before
    the products and sums; DuckDB already sums BIGINT into a 128-bit
    HUGEINT, so both engines carry the moments exactly and the final
    cast of equal integers to double is identical.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("decimal(38,0)")
        .alias("y"),
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        (num / den).alias("pearson_r"),
    )


@register(
    "agg_data_quality_report",
    oracle="""
    SELECT * FROM (
      SELECT 1 AS check_idx, 'orphan_lineitems' AS check_name,
             CAST((SELECT COUNT(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey))
                  AS BIGINT) AS n_violations,
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_checked
      UNION ALL
      SELECT 2, 'orphan_orders',
             CAST((SELECT COUNT(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey))
                  AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
      UNION ALL
      SELECT 3, 'duplicate_order_keys',
             CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
                  AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
      UNION ALL
      SELECT 4, 'nonpositive_prices',
             CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
                  AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders) AS BIGINT)
      UNION ALL
      SELECT 5, 'discount_out_of_range',
             CAST((SELECT COUNT(*) FROM lineitem
                   WHERE l_discount < 0 OR l_discount > 1) AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
      UNION ALL
      SELECT 6, 'null_ship_dates',
             CAST((SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL)
                  AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    )
    """,
)
def agg_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT operational: the DATA-QUALITY EXPECTATIONS report —
    referential integrity (orphan facts), primary-key uniqueness,
    domain ranges, and null checks over the warehouse tables, each
    emitted as (check, violations, population): the dbt-test /
    Great-Expectations layer expressed as one engine query, and the
    gate an ingest pipeline reads before publishing a batch.

    Every check is a count aggregate — the integrity checks are
    LEFT-ANTI joins on the key (the same plan an enforcement pass
    would run), uniqueness is count vs distinct-count, ranges and
    nulls are map-side filters. All tiny results union into a fixed
    6-row report; everything shuffles on uniform keys or not at all.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")

    def row(idx: int, name: str, viol: DataFrame, pop: DataFrame) -> DataFrame:
        v = viol.agg(F.count(F.lit(1)).alias("n_violations"))
        p = pop.agg(F.count(F.lit(1)).alias("n_checked"))
        return v.crossJoin(p).select(
            F.lit(idx).alias("check_idx"),
            F.lit(name).alias("check_name"),
            F.col("n_violations").cast("long"),
            F.col("n_checked").cast("long"),
        )

    orphan_li = li.join(
        orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    )
    orphan_ord = orders.join(
        cust.select("c_custkey"),
        orders.o_custkey == F.col("c_custkey"),
        "left_anti",
    )
    dup = orders.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "n_violations"
        )
    )
    dup_row = dup.crossJoin(
        orders.agg(F.count(F.lit(1)).alias("n_checked"))
    ).select(
        F.lit(3).alias("check_idx"),
        F.lit("duplicate_order_keys").alias("check_name"),
        F.col("n_violations").cast("long"),
        F.col("n_checked").cast("long"),
    )
    return (
        row(1, "orphan_lineitems", orphan_li, li)
        .unionByName(row(2, "orphan_orders", orphan_ord, orders))
        .unionByName(dup_row)
        .unionByName(
            row(4, "nonpositive_prices",
                orders.filter(F.col("o_totalprice") <= 0), orders)
        )
        .unionByName(
            row(5, "discount_out_of_range",
                li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
                li)
        )
        .unionByName(
            row(6, "null_ship_dates",
                li.filter(F.col("l_shipdate").isNull()), li)
        )
    )


# ---------------------------------------------------------------------------
# Round-7 relational additions: classic decision-support shapes the
# engine was still missing (correlated-aggregate joins, scalar-subquery
# thresholds, distribution/binning reports, time-series gap-fill/bars).
# ---------------------------------------------------------------------------


@register(
    "agg_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def agg_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT (TPC-H Q13 shape): the customer-activity histogram — how
    many customers placed exactly k orders, INCLUDING the zero-order
    customers a plain inner join silently drops (the left join is the
    whole point of Q13).

    Scale shape: one shuffle keyed on custkey for the outer join +
    per-customer count (COUNT(o_orderkey) ignores the null-extended
    rows), then a second tiny aggregation over at most
    max-orders-per-customer distinct counts. AQE handles the custkey
    skew; no window, no distinct.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


@register(
    "agg_small_quantity_revenue",
    oracle="""
    WITH p AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#9'),
    li AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN p ON l_partkey = p.p_partkey
    ),
    thr AS (
      SELECT l_partkey,
             (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              / COUNT(*)) * 0.2 AS thr
      FROM li GROUP BY 1
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0 AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_small
    FROM li JOIN thr USING (l_partkey)
    WHERE l_quantity < thr
    """,
)
def agg_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT (TPC-H Q17 shape): revenue lost to small-quantity orders —
    lineitems of one brand whose quantity sits below 20% of that part's
    average quantity (a CORRELATED aggregate subquery, decorrelated
    into a per-part aggregate + equi-join, which is exactly how both
    Catalyst and DuckDB plan Q17).

    Exactness: the per-part threshold is an exact-decimal sum emitted
    as double, then one double divide and multiply — engine-identical;
    the final revenue is a decimal sum divided by 7.0 once. Scale
    shape: the brand filter broadcast-prunes lineitem FIRST (the
    selective dimension always applies before the fact-side agg), then
    one partkey-keyed shuffle serves both the threshold aggregate and
    the re-join; no row ever leaves the partkey partitioning.
    """
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    p = part.filter(F.col("p_brand") == "Brand#9").select("p_partkey")
    sel = li.join(
        F.broadcast(p), li.l_partkey == p.p_partkey
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    thr = sel.groupBy("l_partkey").agg(
        (
            (dsum("l_quantity") / F.count(F.lit(1))) * F.lit(0.2)
        ).alias("thr")
    )
    return (
        sel.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("thr"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).cast("long").alias("n_small"),
        )
    )


@register(
    "agg_important_parts",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
      FROM lineitem GROUP BY 1
    ),
    t AS (SELECT SUM(value_dec) AS total_dec FROM pv)
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM pv, t
    WHERE value_dec * 2000 > total_dec
    """,
)
def agg_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT (TPC-H Q11 shape): parts whose lineitem revenue exceeds a
    FRACTION of the global total — the scalar-subquery-threshold
    pattern (HAVING SUM(...) > fraction × (SELECT SUM(...))).

    Exactness: the keep/drop decision compares exact decimals
    (value × 2000 > total), never doubles — a part sitting exactly at
    the boundary gets the same verdict from both engines by
    construction. Scale shape: ONE partkey aggregation; the global
    total derives from the same aggregate (re-aggregated, not
    re-scanned) and returns to the plan as a 1-row broadcast — the
    corpus is scanned once, and the threshold comparison is map-side
    against the broadcast scalar.
    """
    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice")).alias("value_dec")
    )
    total = pv.agg(F.sum("value_dec").alias("total_dec"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") * 2000 > F.col("total_dec"))
        .select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


@register(
    "agg_parts_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def agg_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT (TPC-H Q16 shape): distinct-supplier counts per part
    attribute group, with NEGATED dimension predicates (<> filters are
    the part of Q16 that defeats naive index strategies; in Spark they
    are just pushed-down scan filters).

    Scale shape: the filtered part side broadcasts into the fact join;
    COUNT(DISTINCT) lowers to the standard two-phase expand-and-agg —
    partial distinct per partition, exchange on the group key, final
    count. No row-level window, no collect.
    """
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    p = part.filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "window_ntile_quartiles",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority, o_totalprice,
             NTILE(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    )
    SELECT o_orderpriority, CAST(quartile AS INTEGER) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS quartile_revenue
    FROM q
    GROUP BY o_orderpriority, quartile
    """,
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-EXT: NTILE quantile binning — each order assigned to a price
    quartile WITHIN its priority class, then per-bin stats. The
    curriculum/difficulty-binning primitive (same mechanics as ordering
    training data into quality buckets: deterministic total order ⇒
    deterministic bin edges on both engines — the o_orderkey tiebreak
    is what makes NTILE cross-engine-stable on duplicate prices).

    Scale shape: one shuffle on the partition key, one in-partition
    sort for the window, then a hash agg on (priority, quartile). At
    100 TB the sort is the cost — but NTILE needs only partition-local
    counts, so Spark's window exec streams it without materializing
    the frame.
    """
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        orders.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice").alias("quartile_revenue"),
        )
    )


#: Robust-outlier cutoff: |x − median| > _MAD_K × MAD, with
#: _MAD_K = 3 × 1.4826 (the normal-consistency constant) written as ONE
#: literal so both engines multiply by the same double.
_MAD_K = 4.4478


@register(
    "agg_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT quantile_cont(o_totalprice, 0.5) AS med FROM orders
    ),
    dev AS (
      SELECT o_totalprice, med, abs(o_totalprice - med) AS adev
      FROM orders, med
    ),
    mad AS (SELECT quantile_cont(adev, 0.5) AS mad FROM dev)
    SELECT MIN(dev.med) AS median_price,
           MIN(mad.mad) AS mad,
           CAST(SUM(CASE WHEN dev.adev > mad.mad * {_MAD_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(SUM(CASE WHEN dev.adev > mad.mad * {_MAD_K}
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS outlier_share
    FROM dev, mad
    """,
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: robust outlier detection via MEDIAN ABSOLUTE DEVIATION —
    the screening rule that survives the heavy-tailed distributions
    where mean/stddev z-scores break. Flags prices more than
    3×1.4826×MAD from the median.

    Exactness: both medians are exact interpolated percentiles
    (``percentile`` vs ``quantile_cont`` agree bitwise — the
    ``agg_percentile_prices`` precedent); the deviation and cutoff are
    raw per-row double arithmetic sharing one literal constant. Scale
    shape: two exact-percentile passes + one counting pass, each a full
    scan with a 1-row broadcast scalar in between — the honest cost of
    exact medians; at corpus scale the same plan swaps to
    ``percentile_approx`` exactly like the percentile family's
    documented approx twin.
    """
    orders = _t(spark, sf_dir, "orders")
    med = orders.agg(
        F.expr("percentile(o_totalprice, 0.5D)").alias("med")
    )
    dev = orders.crossJoin(F.broadcast(med)).select(
        "o_totalprice",
        "med",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("adev"),
    )
    mad = dev.agg(F.expr("percentile(adev, 0.5D)").alias("mad"))
    flagged = (F.col("adev") > F.col("mad") * F.lit(_MAD_K)).cast("long")
    return (
        dev.crossJoin(F.broadcast(mad))
        .agg(
            F.min("med").alias("median_price"),
            F.min("mad").alias("mad"),
            F.sum(flagged).cast("long").alias("n_outliers"),
            (F.sum(flagged).cast("double") / F.count(F.lit(1))).alias(
                "outlier_share"
            ),
        )
    )


def _gapfilled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily revenue axis shared by the gap-fill report and the
    rolling-window family: (day, revenue_dec EXACT-decimal, n_orders,
    is_gap), one row per calendar day of the observed span. The
    revenue stays DECIMAL here so downstream rolling sums remain
    order-independent; emit as double only at the output edge."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(dec("o_totalprice")).alias("revenue_dec"),
        F.count(F.lit(1)).alias("n"),
    )
    span = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    ).select(F.date_format("d", "yyyy-MM-dd").alias("day"))
    return (
        F.broadcast(days)
        .join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(
                "revenue_dec", F.lit(0).cast("decimal(18,2)")
            ).alias("revenue_dec"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


#: ``span(d0, d1)``: the first and last order dates.
_SQL_ORDER_SPAN = """span AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
             MAX(CAST(o_orderdate AS DATE)) AS d1
      FROM orders
    )"""
#: ``days(day)``: every calendar day of ``span``, as 'yyyy-MM-dd'.
_SQL_ORDER_DAYS = """days AS (
      SELECT strftime(CAST(unnest(generate_series(d0, d1,
                       INTERVAL 1 DAY)) AS DATE), '%Y-%m-%d') AS day
      FROM span
    )"""


@register(
    "scalar_gapfill_daily_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             COUNT(*) AS n
      FROM orders GROUP BY 1
    ),
    {_SQL_ORDER_SPAN},
    {_SQL_ORDER_DAYS}
    SELECT days.day,
           COALESCE(daily.revenue, 0.0) AS revenue,
           CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_orders,
           (daily.n IS NULL) AS is_gap
    FROM days LEFT JOIN daily ON daily.day = days.day
    """,
)
def scalar_gapfill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-EXT: time-series GAP-FILL / resample — the calendar axis is
    generated (``sequence`` over the observed [min, max] date span,
    exploded), then outer-joined against the daily aggregate so silent
    holes become explicit zero rows with an ``is_gap`` marker.
    Downstream rolling windows are only correct on a dense axis — this
    is the operator that makes them so.

    Scale shape: the aggregate is one date-keyed shuffle; the span is a
    1-row scalar; the generated calendar is O(days) — thousands of rows
    regardless of corpus size — so it BROADCASTS into the join and the
    fact side never reshuffles.
    """
    gf = _gapfilled_daily(spark, sf_dir)
    return gf.select(
        "day",
        F.col("revenue_dec").cast("double").alias("revenue"),
        "n_orders",
        "is_gap",
    )


@register(
    "agg_ohlc_daily_value",
    oracle="""
    WITH e AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             ts, event_id, value
      FROM events
    ),
    o AS (
      SELECT day, value FROM e
      QUALIFY ROW_NUMBER() OVER (PARTITION BY day
                                 ORDER BY ts, event_id) = 1
    ),
    c AS (
      SELECT day, value FROM e
      QUALIFY ROW_NUMBER() OVER (PARTITION BY day
                                 ORDER BY ts DESC, event_id DESC) = 1
    ),
    hl AS (
      SELECT day, MIN(value) AS px_low, MAX(value) AS px_high,
             COUNT(*) AS n
      FROM e GROUP BY 1
    )
    SELECT hl.day,
           o.value AS px_open, hl.px_high, hl.px_low,
           c.value AS px_close,
           CAST(hl.n AS BIGINT) AS n_events
    FROM hl JOIN o ON o.day = hl.day
            JOIN c ON c.day = hl.day
    """,
)
def agg_ohlc_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: OHLC bars — per-day open/high/low/close of the event
    value stream, the downsampling shape every metrics store needs.

    The Spark plan deliberately AVOIDS the oracle's window sorts:
    open/close are struct-extrema aggregates (min/max over
    (ts, event_id, value) tuples — lexicographic struct comparison
    picks the first/last event per day inside an ordinary hash agg, so
    the whole query is ONE shuffle with map-side partials and no
    per-partition sort). event_id breaks timestamp ties, making the
    pick deterministic on both engines; high/low are plain min/max
    (order-independent doubles).
    """
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
        "ts",
        "event_id",
        "value",
    )
    return e.groupBy("day").agg(
        F.min(F.struct("ts", "event_id", "value")).alias("o"),
        F.max("value").alias("px_high"),
        F.min("value").alias("px_low"),
        F.max(F.struct("ts", "event_id", "value")).alias("c"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    ).select(
        "day",
        F.col("o.value").alias("px_open"),
        "px_high",
        "px_low",
        F.col("c.value").alias("px_close"),
        "n_events",
    )


@register(
    "window_rolling_7day_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue_dec,
             COUNT(*) AS n
      FROM orders GROUP BY 1
    ),
    {_SQL_ORDER_SPAN},
    {_SQL_ORDER_DAYS},
    dense AS (
      SELECT days.day,
             COALESCE(daily.revenue_dec,
                      CAST(0 AS DECIMAL(18,2))) AS revenue_dec
      FROM days LEFT JOIN daily ON daily.day = days.day
    )
    SELECT day,
           CAST(revenue_dec AS DOUBLE) AS revenue,
           CAST(SUM(revenue_dec) OVER w AS DOUBLE) AS rolling_7d_revenue,
           CAST(COUNT(*) OVER w AS BIGINT) AS rolling_n_days,
           CAST(SUM(revenue_dec) OVER w AS DOUBLE) / COUNT(*) OVER w
             AS rolling_avg_daily
    FROM dense
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def window_rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-EXT: rolling 7-day revenue over the GAP-FILLED daily axis —
    the composition the gap-fill operator exists for: on a sparse axis
    the same frame silently spans more calendar time wherever days are
    missing; on the dense axis "7 rows" IS "7 days". Gap days
    contribute exact-decimal zeros, so the rolling sum stays
    order-independent (decimal all the way, double only at the output
    edge).

    Scale shape: the windowed relation is the O(days) dense axis — a
    few thousand rows regardless of corpus size — so the single-
    partition window is a non-cost; all corpus-sized work happened in
    the one date-keyed aggregation underneath.
    """
    gf = _gapfilled_daily(spark, sf_dir)
    w = (
        Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    )
    roll = F.sum("revenue_dec").over(w)
    n = F.count(F.lit(1)).over(w)
    return gf.select(
        "day",
        F.col("revenue_dec").cast("double").alias("revenue"),
        roll.cast("double").alias("rolling_7d_revenue"),
        n.cast("long").alias("rolling_n_days"),
        (roll.cast("double") / n).alias("rolling_avg_daily"),
    )


@register(
    "agg_idle_rich_customers",
    oracle="""
    WITH thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_acctbal
    FROM customer c, thr
    WHERE c.c_acctbal > thr.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_nationkey
    """,
)
def agg_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT (TPC-H Q22 shape): per-nation count and balance of
    customers with ABOVE-AVERAGE positive balances with no order since
    the 2000-01-01 cutoff — the correlated NOT EXISTS +
    scalar-subquery-threshold pattern (dormant-account analysis; the
    date predicate pushes into the anti-join's build side scan).

    Scale shape: the scalar threshold is a 1-row broadcast from one
    aggregate; NOT EXISTS lowers to a LEFT ANTI join on the uniform
    custkey (the enforcement plan itself, same as the data-quality
    checks); the final rollup groups the surviving minority by nation.
    Exactness: exact-decimal sums emitted as double, one division, raw
    double comparison — boundary customers agree by construction.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    thr = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum("c_acctbal") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
            ).select("o_custkey"),
            cust.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
    )


#: Q20 shape: a supplier qualifies per part once it shipped more than
#: this total quantity of it.
_EXCESS_QTY = 100.0


@register(
    "join_excess_quantity_suppliers",
    oracle=f"""
    WITH p AS (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY'),
    sq AS (
      SELECT l_suppkey, l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem JOIN p ON l_partkey = p.p_partkey
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > {_EXCESS_QTY}
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_excess_parts,
           CAST(SUM(sq.qty) AS DOUBLE) AS total_excess_qty
    FROM supplier s JOIN sq ON sq.l_suppkey = s.s_suppkey
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def join_excess_quantity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-EXT (TPC-H Q20 shape): suppliers who shipped more than a
    threshold quantity of some ECONOMY part — the nested-IN-subquery
    pattern (part filter → per-(supplier, part) aggregate with HAVING →
    supplier join), the classic "who is over-shipping what" audit.

    Scale shape: the selective part dimension broadcast-prunes lineitem
    FIRST; the (suppkey, partkey) aggregate + HAVING is one shuffle
    with map-side partials; the surviving small relation joins the
    supplier dim (broadcast at this SF, AQE decides at scale). HAVING
    compares EXACT decimals against the literal, so boundary groups
    agree across engines by construction.
    """
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    p = part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    sq = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > F.lit(_EXCESS_QTY))
    )
    return (
        sq.join(supp, sq.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_excess_parts"),
            F.sum("qty").cast("double").alias("total_excess_qty"),
        )
    )


@register(
    "agg_event_type_lift",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
    per AS (
      SELECT event_type, COUNT(*) AS n_type FROM ut GROUP BY 1
    ),
    co AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM ut a JOIN ut b ON a.user_id = b.user_id
                         AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT co.type_a, co.type_b,
           CAST(co.n_both AS BIGINT) AS n_both,
           CAST(co.n_both * n.n_users AS DOUBLE)
             / (pa.n_type * pb.n_type) AS lift
    FROM co
    CROSS JOIN n
    JOIN per pa ON pa.event_type = co.type_a
    JOIN per pb ON pb.event_type = co.type_b
    """,
)
def agg_event_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: market-basket LIFT between event types — for each pair,
    P(a,b) / (P(a)·P(b)) over users: >1 means the behaviors co-occur
    beyond chance (cross-sell/affinity mining; the PMI idea applied to
    user behavior instead of adjacent tokens).

    Scale shape: the self-join runs on the (user, type)-DISTINCT
    relation keyed by the uniform user id, and each user contributes at
    most |types|² pairs — a constant (5 types ⇒ ≤10 rows), so the join
    is linear in users. Lift is an exact int64 product ratio with ONE
    double division.
    """
    ev = _t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n = ev.agg(F.countDistinct("user_id").alias("n_users"))
    per = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_type"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    pa = per.select(
        F.col("event_type").alias("type_a"), F.col("n_type").alias("na")
    )
    pb = per.select(
        F.col("event_type").alias("type_b"), F.col("n_type").alias("nb")
    )
    return (
        both.crossJoin(F.broadcast(n))
        .join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            (
                (F.col("n_both") * F.col("n_users")).cast("double")
                / (F.col("na") * F.col("nb"))
            ).alias("lift"),
        )
    )


#: EWMA fixed-point smoothing weights (α = _EWMA_NUM/_EWMA_DEN): ONE
#: pair of constants drives the Spark fold, the recompute test, AND the
#: generated oracle below — changing α cannot desynchronize the sides.
_EWMA_NUM = 15
_EWMA_DEN = 100


@register(
    "window_ewma_daily_revenue",
    oracle=rf"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    span AS MATERIALIZED (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
             MAX(CAST(o_orderdate AS DATE)) AS d1
      FROM orders
    ),
    days AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day,
             COALESCE(cents, 0) AS cents
      FROM (
        SELECT strftime(CAST(unnest(generate_series(d0, d1,
                         INTERVAL 1 DAY)) AS DATE), '%Y-%m-%d') AS day
        FROM span
      ) LEFT JOIN daily USING (day)
    ),
    ew AS (
      SELECT i, day, cents, cents AS ewma FROM days WHERE i = 1
      UNION ALL
      SELECT d.i, d.day, d.cents,
             ({_EWMA_NUM} * d.cents
              + {_EWMA_DEN - _EWMA_NUM} * ew.ewma) // {_EWMA_DEN}
      FROM days d JOIN ew ON d.i = ew.i + 1
    )
    SELECT day,
           CAST(cents AS DOUBLE) / 100 AS revenue,
           CAST(ewma AS DOUBLE) / 100 AS ewma_revenue
    FROM ew
    """,
)
def window_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-EXT: EWMA smoothing of daily revenue (α = 0.15) — a SEQUENTIAL
    recurrence, the one window shape frame-spec aggregates cannot
    express (every output depends on the previous OUTPUT, not previous
    inputs). Made cross-engine-exact the fixed-point way: cents-integer
    state with ``(15·x + 85·e) // 100`` floor updates, so both engines
    produce identical integers step for step (floats would drift:
    α-powers accumulate differently under reassociation).

    Scale shape: the recurrence runs on the O(days) DENSE axis — a few
    thousand rows at ANY corpus size — packed into one array row and
    folded with ``aggregate`` (the corpus-sized work is the one
    date-keyed aggregation underneath, exactly like the rolling-window
    family). The oracle spells the same recurrence as a recursive CTE.
    An unbounded-key recurrence would need a different tool
    (``applyInPandasWithState``'s per-key sequential state) — this
    operator is deliberately scoped to bounded axes.
    """
    from pyspark.sql import types as T

    gf = _gapfilled_daily(spark, sf_dir)
    days = gf.select(
        "day", (F.col("revenue_dec") * 100).cast("long").alias("cents")
    )
    packed = days.agg(
        F.array_sort(F.collect_list(F.struct("day", "cents"))).alias("ds")
    )

    # The recurrence itself runs in an Arrow-batched UDF over the ONE
    # packed row (exact Python ints — the _ln_libm precedent: a Python
    # boundary on an O(report) relation costs nothing at scale, and a
    # Catalyst fold-with-concat here is O(days²) array copies).
    @F.pandas_udf(
        T.ArrayType(T.StructType([
            T.StructField("day", T.StringType()),
            T.StructField("cents", T.LongType()),
            T.StructField("ewma", T.LongType()),
        ]))
    )
    def _ewma_fold(col: pd.Series) -> pd.Series:
        def run(ds):
            out, prev = [], None
            for row in ds:
                c = int(row["cents"])
                prev = (
                    c
                    if prev is None
                    else (_EWMA_NUM * c + (_EWMA_DEN - _EWMA_NUM) * prev)
                    // _EWMA_DEN
                )
                out.append(
                    {"day": row["day"], "cents": c, "ewma": prev}
                )
            return out

        return col.map(run)

    folded = packed.select(_ewma_fold("ds").alias("out"))
    r = F.col("r")
    return folded.select(F.explode("out").alias("r")).select(
        r["day"].alias("day"),
        (r["cents"].cast("double") / 100).alias("revenue"),
        (r["ewma"].cast("double") / 100).alias("ewma_revenue"),
    )


@register(
    "window_seasonal_naive_mape",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue_dec
      FROM orders GROUP BY 1
    ),
    {_SQL_ORDER_SPAN},
    dense AS (
      SELECT days.day,
             COALESCE(daily.revenue_dec,
                      CAST(0 AS DECIMAL(18,2))) AS revenue_dec
      FROM (
        SELECT strftime(CAST(unnest(generate_series(d0, d1,
                         INTERVAL 1 DAY)) AS DATE), '%Y-%m-%d') AS day
        FROM span
      ) days LEFT JOIN daily ON daily.day = days.day
    ),
    f AS (
      SELECT day,
             CAST(revenue_dec AS DOUBLE) AS actual,
             CAST(lag(revenue_dec, 7) OVER (ORDER BY day)
                  AS DOUBLE) AS forecast
      FROM dense
    ),
    e AS (
      SELECT CAST(abs(actual - forecast) / actual
                  AS DECIMAL(28,12)) AS ape
      FROM f
      WHERE forecast IS NOT NULL AND actual > 0.0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ape) AS DOUBLE) / COUNT(*) AS mape
    FROM e
    """,
)
def window_seasonal_naive_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-EXT: FORECAST BACKTEST — the seasonal-naive baseline
    (forecast = same weekday last week) evaluated by MAPE over the
    gap-filled daily axis. Every forecasting effort must beat this
    number; computing it is the first step of any demand-planning
    pipeline, and it needs the dense axis (on a sparse one, lag(7)
    silently reaches back more than a week across holes).

    Float-mean exactness: each day's absolute percentage error is raw
    per-row double arithmetic (engine-identical), QUANTIZED to
    DECIMAL(28,12) — wide enough (16 integer digits) that even a
    pathological actual-vs-forecast ratio cannot overflow, where an
    18,12 cast would null in Spark but raise in DuckDB (r7 ADVICE) —
    and the mean is an exact decimal sum with one
    double division — the same recipe as the Zipf regression (a plain
    AVG of doubles is summation-order-dependent and can never
    hash-match). Scale shape: one date-keyed agg; lag + the error
    reduction run on the O(days) axis.
    """
    gf = _gapfilled_daily(spark, sf_dir)
    w = Window.orderBy("day")
    f = gf.select(
        "day",
        F.col("revenue_dec").cast("double").alias("actual"),
        F.lag(F.col("revenue_dec"), 7).over(w).cast("double").alias(
            "forecast"
        ),
    )
    e = f.filter(
        F.col("forecast").isNotNull() & (F.col("actual") > 0.0)
    ).select(
        (F.abs(F.col("actual") - F.col("forecast")) / F.col("actual"))
        .cast("decimal(28,12)")
        .alias("ape")
    )
    return e.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (F.sum("ape").cast("double") / F.count(F.lit(1))).alias("mape"),
    )


@register(
    "agg_weekday_seasonality",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue_dec
      FROM orders GROUP BY 1
    ),
    wd AS (
      SELECT CAST(dayofweek(d) + 1 AS INTEGER) AS weekday,
             COUNT(*) AS n_days,
             SUM(revenue_dec) AS rev_dec
      FROM daily GROUP BY 1
    ),
    t AS (
      SELECT SUM(rev_dec) AS tot_dec, SUM(n_days) AS tot_days FROM wd
    )
    SELECT weekday,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(rev_dec AS DOUBLE) AS total_revenue,
           (CAST(rev_dec AS DOUBLE) / n_days)
             / (CAST(tot_dec AS DOUBLE) / tot_days)
             AS seasonality_index
    FROM wd, t
    """,
)
def agg_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: WEEKDAY SEASONALITY index — each weekday's mean daily
    revenue relative to the overall mean (index 1.0 = average day).
    The multiplicative factor the seasonal-naive backtest (W9) implies
    and a demand planner deseasonalizes with; closes the time-series
    family: dense axis → rolling → EWMA → backtest → decomposition.

    Exactness: both means are exact-decimal sums emitted as double
    with integer-count divisions, and the index is one double ratio —
    no averaged doubles anywhere. Scale shape: one date-keyed agg (the
    corpus pass), a 7-row weekday rollup, a 1-row broadcast total.
    Spark's ``dayofweek`` is Sunday=1; DuckDB's is Sunday=0, so the
    oracle adds one — pinned by the parity check itself.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(dec("o_totalprice")).alias("revenue_dec")
    )
    wd = daily.groupBy(
        F.dayofweek("d").cast("int").alias("weekday")
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("revenue_dec").alias("rev_dec"),
    )
    t = wd.agg(
        F.sum("rev_dec").alias("tot_dec"),
        F.sum("n_days").alias("tot_days"),
    )
    return wd.crossJoin(F.broadcast(t)).select(
        "weekday",
        F.col("n_days").cast("long").alias("n_days"),
        F.col("rev_dec").cast("double").alias("total_revenue"),
        (
            (F.col("rev_dec").cast("double") / F.col("n_days"))
            / (F.col("tot_dec").cast("double") / F.col("tot_days"))
        ).alias("seasonality_index"),
    )


@register(
    "agg_rolling_wau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau
    FROM days
    JOIN ud ON ud.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY days.d
    """,
)
def agg_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: rolling 7-day ACTIVE USERS (WAU) per day — the growth
    metric DAU/cumulative-users (A16) cannot derive, because sliding
    DISTINCT does not decompose into a window aggregate (a user active
    on 3 of the 7 days must count once).

    Spark plans it as the (user, day)-DISTINCT relation band-joined to
    the day axis (each activity row lands in ≤7 windows — constant
    fan-out) and a per-day COUNT DISTINCT: linear in distinct
    user-days, never in raw events, and the distinct agg is the
    standard two-phase expand. At true scale the day axis broadcasts.
    """
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    days = ud.select(F.col("d").alias("day_d")).distinct()
    return (
        F.broadcast(days)
        .join(
            ud,
            (ud.d >= F.date_sub(F.col("day_d"), 6))
            & (ud.d <= F.col("day_d")),
        )
        .groupBy("day_d")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
        .select(
            F.date_format("day_d", "yyyy-MM-dd").alias("day"), "wau"
        )
    )


@register(
    "agg_nation_revenue_yoy",
    oracle="""
    WITH yr AS (
      SELECT c.c_nationkey,
             CAST(year(o.o_orderdate) AS INTEGER) AS yr,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_dec
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT c_nationkey, yr,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(lag(rev_dec) OVER w AS DOUBLE) AS prev_revenue,
           CASE WHEN lag(rev_dec) OVER w IS NOT NULL
                THEN CAST(rev_dec - lag(rev_dec) OVER w AS DOUBLE)
                     / CAST(lag(rev_dec) OVER w AS DOUBLE)
           END AS yoy_growth
    FROM yr
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY yr)
    """,
)
def agg_nation_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: YEAR-OVER-YEAR revenue growth per customer nation — the
    trend report behind every annual review: (nation, year) revenue,
    the prior year's, and the growth rate, NULL for each nation's first
    year (a fabricated 0 would read as flat growth).

    Exactness: yearly revenues are exact-decimal sums; the growth rate
    is (a − b)/b computed on the decimal difference CAST to double then
    one division — both engines do the identical two operations. Scale
    shape: the corpus pass is one (nation, year) agg after the custkey
    join (AQE-planned); the lag window runs over the O(nations × years)
    aggregate, never raw orders.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    yr = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_nationkey",
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(F.sum(dec("o_totalprice")).alias("rev_dec"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("yr")
    prev = F.lag("rev_dec").over(w)
    return yr.select(
        "c_nationkey",
        "yr",
        F.col("rev_dec").cast("double").alias("revenue"),
        prev.cast("double").alias("prev_revenue"),
        F.when(
            prev.isNotNull(),
            (F.col("rev_dec") - prev).cast("double") / prev.cast("double"),
        ).alias("yoy_growth"),
    )


# ---------------------------------------------------------------------------
# Round-8 decision-support shapes (TPC-H Q3/Q4/Q7/Q8/Q10/Q14/Q15/Q18/Q19
# adapted to the testdata's columns) + sequence/segment analytics
# ---------------------------------------------------------------------------

#: Discounted line revenue as an EXACT decimal expression — the shared
#: money discipline: DECIMAL(18,2) price × (1 − DECIMAL(18,2) discount)
#: is exact in both engines; sums stay decimal until ONE final double
#: cast. Oracle twin: CAST(l_extendedprice AS DECIMAL(18,2)) *
#: (1 - CAST(l_discount AS DECIMAL(18,2))).
def _line_rev() -> "F.Column":
    return dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))


_SQL_LINE_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


@register(
    "agg_returned_items_report",
    oracle=f"""
    SELECT c.c_custkey,
           c.c_name,
           n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({_SQL_LINE_REV.replace('l_', 'l.l_')}) AS DOUBLE)
             AS returned_revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY SUM({_SQL_LINE_REV.replace('l_', 'l.l_')}) DESC, c.c_custkey
    LIMIT 20
    """,
)
def agg_returned_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: TPC-H Q10 shape — the RETURNED-ITEMS loss report: which
    customers returned the most revenue in a six-month window. The
    returns-triage query every commerce warehouse runs.

    Exactness: revenue ranks and returns as an exact decimal sum (ties
    compare identically cross-engine; double cast only at output);
    c_custkey breaks residual ties so the LIMIT 20 set is total-order
    deterministic. Scale shape: the date filter pushes to the orders
    scan, the returnflag filter to the lineitem scan; joins shuffle on
    their keys (AQE broadcasts while small), nation is the only hinted
    broadcast; the top-20 is a TakeOrdered over the aggregate, never a
    full sort.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(_line_rev()).alias("rev_dec"),
        )
        .orderBy(F.desc("rev_dec"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "nation",
            "n_lines",
            F.col("rev_dec").cast("double").alias("returned_revenue"),
        )
    )


@register(
    "agg_cross_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({_SQL_LINE_REV.replace('l_', 'l.l_')}) AS DOUBLE)
             AS volume
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def agg_cross_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: TPC-H Q7 shape — SHIPPING VOLUME between two trading
    nations by year and direction (supplier nation → customer nation),
    the bilateral-trade report.

    Scale shape: the nation-pair predicate lands on the two 25-row
    broadcast dims, so the big joins are filtered EARLY on the supplier
    and customer sides (semi-join pushdown through the broadcast); the
    fact joins shuffle on suppkey/orderkey/custkey; the final agg has
    2 directions × years keys.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ("NATION_1", "NATION_2")
    n1 = F.broadcast(
        n.filter(F.col("n_name").isin(*pair)).withColumnsRenamed(
            {"n_nationkey": "s_nk", "n_name": "supp_nation"}
        )
    )
    n2 = F.broadcast(
        n.filter(F.col("n_name").isin(*pair)).withColumnsRenamed(
            {"n_nationkey": "c_nk", "n_name": "cust_nation"}
        )
    )
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dsum_expr(_line_rev()).alias("volume"),
        )
    )


@register(
    "agg_market_share_by_year",
    oracle=f"""
    WITH all_lines AS (
      SELECT year(o.o_orderdate) AS o_year,
             {_SQL_LINE_REV.replace('l_', 'l.l_')} AS rev,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n2.n_regionkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT CAST(o_year AS INT) AS o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             AS nation_volume,
           CAST(SUM(rev) AS DOUBLE) AS total_volume,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE) AS mkt_share
    FROM all_lines
    GROUP BY o_year
    """,
)
def agg_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: TPC-H Q8 shape — MARKET SHARE of one supplier nation
    within a consuming region per year: conditional revenue over total
    revenue, the share-of-wallet report.

    Exactness: both numerator and denominator are exact decimal sums
    (the CASE else-branch is a DECIMAL zero, so the conditional sum
    never mixes types); the share is ONE double division. Scale shape:
    the region filter reaches the customer side through two broadcast
    dims; one wide join pipeline, one year-keyed agg.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    n1 = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("s_nk"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    asia_nk = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    rev = _line_rev()
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(asia_nk, F.col("c_nationkey") == F.col("c_nk"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_2", rev).otherwise(zero)
            ).alias("nat_dec"),
            F.sum(rev).alias("tot_dec"),
        )
        .select(
            "o_year",
            F.col("nat_dec").cast("double").alias("nation_volume"),
            F.col("tot_dec").cast("double").alias("total_volume"),
            (
                F.col("nat_dec").cast("double")
                / F.col("tot_dec").cast("double")
            ).alias("mkt_share"),
        )
    )


@register(
    "agg_promo_revenue_share",
    oracle=f"""
    SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN {_SQL_LINE_REV.replace('l_', 'l.l_')}
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             AS promo_revenue,
           CAST(SUM({_SQL_LINE_REV.replace('l_', 'l.l_')}) AS DOUBLE)
             AS total_revenue,
           100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN {_SQL_LINE_REV.replace('l_', 'l.l_')}
                                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({_SQL_LINE_REV.replace('l_', 'l.l_')}) AS DOUBLE)
             AS promo_share_pct
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY strftime(l.l_shipdate, '%Y-%m')
    """,
)
def agg_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: TPC-H Q14 shape — PROMOTION EFFECT: the share of monthly
    revenue carried by promo-type parts, the marketing-mix report.

    Exactness: conditional and total revenue are exact decimal sums
    with a DECIMAL zero else-branch; the percentage is `100.0 × a / b`
    in that exact double order on both engines. Scale shape: the ship
    date filter pushes to the lineitem scan; one partkey shuffle join
    (AQE-broadcast while part is small), one month-keyed agg.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast("decimal(18,2)")
    rev = _line_rev()
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
            ).alias("promo_dec"),
            F.sum(rev).alias("tot_dec"),
        )
        .select(
            "ship_month",
            F.col("promo_dec").cast("double").alias("promo_revenue"),
            F.col("tot_dec").cast("double").alias("total_revenue"),
            (
                F.lit(100.0) * F.col("promo_dec").cast("double")
                / F.col("tot_dec").cast("double")
            ).alias("promo_share_pct"),
        )
    )


@register(
    "filter_disjunctive_parts_revenue",
    oracle=f"""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({_SQL_LINE_REV.replace('l_', 'l.l_')}) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 16 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 31 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    GROUP BY p.p_brand
    """,
)
def filter_disjunctive_parts_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P-EXT: TPC-H Q19 shape — DISJUNCTIVE (OR-of-ANDs) predicate
    spanning both join sides: three (brand, size-band, quantity-band)
    clauses. The optimizer stress case: Catalyst must split the
    disjunction into single-side conjuncts (brand/size reach the part
    scan, a derived quantity range reaches the lineitem scan) while
    the cross-side residual evaluates after the join.

    Scale shape: one partkey join (broadcast while part is small); the
    per-scan pushed fragments keep the joined row count a fraction of
    the fact table. Exact decimal revenue, double at output.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(16, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(31, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        j.filter(cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dsum_expr(_line_rev()).alias("revenue"),
        )
    )


@register(
    "window_top_supplier_quarterly",
    oracle=f"""
    WITH sr AS (
      SELECT strftime(date_trunc('quarter', l.l_shipdate), '%Y-%m')
               AS qtr,
             l.l_suppkey,
             SUM({_SQL_LINE_REV.replace('l_', 'l.l_')}) AS rev_dec
      FROM lineitem l
      GROUP BY 1, 2
    ),
    rk AS (
      SELECT qtr, l_suppkey, rev_dec,
             RANK() OVER (PARTITION BY qtr ORDER BY rev_dec DESC) AS rk
      FROM sr
    )
    SELECT rk.qtr, s.s_suppkey, s.s_name,
           CAST(rk.rev_dec AS DOUBLE) AS revenue
    FROM rk JOIN supplier s ON s.s_suppkey = rk.l_suppkey
    WHERE rk.rk = 1
    """,
)
def window_top_supplier_quarterly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-EXT: TPC-H Q15 shape — TOP SUPPLIER per quarter by shipped
    revenue, ties kept (RANK, not row_number — two suppliers with the
    same exact-decimal revenue both win, identically on both engines
    because the rank key never becomes a float).

    Scale shape: one (quarter, suppkey) hash agg over the fact scan,
    the rank window over the O(suppliers × quarters) aggregate, and a
    suppkey join for names. Never a window over raw lineitem.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    sr = (
        li.groupBy(
            F.date_format(F.date_trunc("quarter", "l_shipdate"), "yyyy-MM")
            .alias("qtr"),
            "l_suppkey",
        )
        .agg(F.sum(_line_rev()).alias("rev_dec"))
    )
    w = Window.partitionBy("qtr").orderBy(F.desc("rev_dec"))
    return (
        sr.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") == 1)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "qtr",
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
    )


@register(
    "agg_large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_totalprice, big.total_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def agg_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: TPC-H Q18 shape — LARGE-VOLUME orders: customers whose
    single order exceeds a quantity threshold (GROUP-HAVING feeding a
    join), the bulk-buyer audit.

    Scale shape: the HAVING aggregate reduces lineitem to the rare big
    orders BEFORE any join (map-side combined, quantity summed as
    exact int64 — the model keeps quantities integral); the survivors
    join orders then customer on their keys. The o_totalprice column
    passes through untouched (raw double on both engines).
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
        .withColumn("total_qty", F.col("total_qty").cast("long"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )


@register(
    "agg_shipping_priority_topk",
    oracle=f"""
    SELECT l.l_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           o.o_orderpriority,
           CAST(SUM({_SQL_LINE_REV.replace('l_', 'l.l_')}) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate < TIMESTAMP '1997-06-01'
      AND l.l_shipdate > TIMESTAMP '1997-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY SUM({_SQL_LINE_REV.replace('l_', 'l.l_')}) DESC, l.l_orderkey
    LIMIT 10
    """,
)
def agg_shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: TPC-H Q3 shape — SHIPPING PRIORITY: the ten highest-value
    orders placed before a cutoff whose goods had not shipped by it
    (the unshipped-backlog triage list).

    Exactness: ranking runs on the exact-decimal revenue (identical
    tie behavior) with l_orderkey as the total-order tiebreak; the
    double cast happens after the cut. Scale shape: both date filters
    push to their scans, one orderkey shuffle join, TakeOrdered for
    the top-10 — no full sort.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-06-01"
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-06-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_line_rev()).alias("rev_dec"))
        .orderBy(F.desc("rev_dec"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
    )


@register(
    "join_late_shipment_priority",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def join_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-EXT: TPC-H Q4 shape — ORDER PRIORITY CHECKING: per priority
    class, how many orders in a quarter had at least one line that
    shipped more than 90 days after ordering (EXISTS → LEFT SEMI join,
    the SLA-breach count).

    Scale shape: the quarter filter pushes to the orders scan; the
    EXISTS compiles to one orderkey-keyed LEFT SEMI join whose
    correlated date predicate evaluates inside the join (no per-row
    subquery); the final agg has 5 priority keys.
    """
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (
                li.l_shipdate
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


@register(
    "agg_event_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    tr AS (
      SELECT event_type AS from_type, next_type AS to_type,
             COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    tot AS (
      SELECT from_type, SUM(n) AS n_from FROM tr GROUP BY from_type
    )
    SELECT tr.from_type, tr.to_type,
           CAST(tr.n AS BIGINT) AS n_transitions,
           CAST(tr.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE)
             AS transition_prob
    FROM tr JOIN tot USING (from_type)
    """,
)
def agg_event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: first-order MARKOV TRANSITION MATRIX over per-user event
    sequences — P(next event type | current event type), the
    behavioral-model fit behind churn prediction and next-action
    recommendation (the sequence-analytics sibling of the co-occurrence
    lift matrix, which ignores order).

    Exactness: the successor comes from LEAD over the deterministic
    (ts, event_id) total order; probabilities are one integer→double
    division. The from-type marginals DERIVE from the transition
    aggregate (derive-the-small-from-the-big), never a second corpus
    pass. Scale shape: one user-keyed window over the events scan, one
    (from, to) hash agg (≤ |types|² keys), and a broadcast-size join.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    tr = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = tr.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return tr.join(tot, "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n_transitions"),
        (F.col("n").cast("double") / F.col("n_from").cast("double")).alias(
            "transition_prob"
        ),
    )


@register(
    "agg_rfm_segments",
    oracle="""
    WITH anchor AS (
      SELECT MAX(o_orderdate) AS max_d FROM orders
    ),
    per_cust AS (
      SELECT o_custkey,
             date_diff('day', MAX(o_orderdate), (SELECT max_d FROM anchor))
               AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec
      FROM orders
      GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, monetary_dec,
             NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary_dec DESC, o_custkey) AS m_score
      FROM per_cust
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_dec) AS DOUBLE) / COUNT(*) AS avg_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: RFM SEGMENTATION — every customer scored into quintiles
    by Recency (days since last order, anchored at the corpus max so
    the result is reproducible), Frequency (order count), and Monetary
    (exact-decimal lifetime value), then rolled up per (R,F,M) cell:
    the classic CRM segmentation grid.

    Exactness: every NTILE ranks over a TOTAL order (metric +
    custkey tiebreak — without it the two engines may split quintile
    boundaries differently between tied customers); recency is an
    integer day diff; avg monetary is one exact-decimal-sum double
    division. Scale shape: one custkey agg over orders, a 1-row anchor
    broadcast, three windows over the O(customers) aggregate (single
    unpartitioned sorts of a small relation — at 100 TB swap NTILE for
    approx-quantile boundaries; the exact form is the oracle anchor),
    and a ≤125-key rollup.
    """
    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("max_d"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(dec("o_totalprice")).alias("monetary_dec"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("max_d", "last_d").alias("recency_days"),
            "frequency",
            "monetary_dec",
        )
    )
    scored = per_cust.select(
        "monetary_dec",
        F.ntile(5)
        .over(Window.orderBy("recency_days", "o_custkey"))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), "o_custkey"))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_dec"), "o_custkey"))
        .alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (
                F.sum("monetary_dec").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_monetary"),
        )
    )


@register(
    "window_session_stats_batch",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS session_idx
      FROM flagged
    )
    SELECT user_id,
           CAST(session_idx AS BIGINT) AS session_idx,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           CAST(epoch_us(MAX(ts) - MIN(ts)) AS DOUBLE) / 60000000
             AS duration_minutes,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value
    FROM sess
    GROUP BY user_id, session_idx
    """,
)
def window_session_stats_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-EXT: batch SESSIONIZATION — the gaps-and-islands assignment of
    events to sessions (a ≥30-minute silence starts a new session) plus
    per-session stats, the batch twin of the streaming session window
    (`stream_session_windows`) and the foundation of engagement
    analytics. The boundary is ≥, not >, MATCHING Spark's
    ``session_window`` half-open span [first, last + gap): an event
    exactly 30 minutes after the last one opens a NEW session in both
    forms, so the pair is equality-testable event-for-event
    (tests/test_sessionization_equality.py, r8 VERDICT item #7).

    Exactness: the new-session flag and its running sum both run over
    the deterministic (ts, event_id) order; duration is an exact
    integer microsecond difference with one division; session start is
    emitted as a microsecond-precision STRING (both engines format,
    neither ships a timestamp type across the comparison boundary).
    Scale shape: ONE user-keyed sort serves both windows (same key,
    same order → one shuffle+sort, two frame passes), then a
    (user, session) hash agg. Linear in events.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact MICROSECOND gap — a cast-to-long gap truncates to seconds
    # and would disagree with the oracle's INTERVAL comparison on
    # sub-second boundary cases
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(gap.isNull() | (gap >= 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        "value",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_idx"),
    )
    return (
        sess.groupBy("user_id", F.col("session_idx").cast("long").alias("session_idx"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            (
                (
                    F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
                ).cast("double")
                / F.lit(60000000.0)
            ).alias("duration_minutes"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Round 9: the remaining TPC-H decision-support shapes (Q2/Q5/Q6/Q21),
# completing the Q1-Q22 shape family within the testdata schema (no
# partsupp table, no commit/receipt dates — Q2 and Q21 keep the query
# SHAPE over the columns that exist; Q5 and Q6 are direct).
# ---------------------------------------------------------------------------


@register(
    "agg_forecast_revenue_change",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue_increase,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def agg_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: TPC-H Q6 shape — the what-if revenue-change probe (the
    discount-elimination forecast): one fully-pushed-down scan, zero
    joins, one global aggregate. The optimizer stress here is the
    opposite of Q19's: EVERY predicate (date range, discount band,
    quantity cap) must reach the parquet scan as a pushed filter, so
    at 100 TB the query reads only row groups whose min/max stats
    overlap the band.

    Exactness: the discount band compares EXACT DECIMAL(18,2) values —
    a double comparison would disagree with the oracle on 0.05/0.07
    boundary rows (the same boundary discipline as Q17/Q20).
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & dec("l_discount").between(
                F.lit("0.05").cast("decimal(18,2)"),
                F.lit("0.07").cast("decimal(18,2)"),
            )
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum_expr(dec("l_extendedprice") * dec("l_discount")).alias(
                "revenue_increase"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "agg_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def agg_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: TPC-H Q5 shape — LOCAL supplier volume: revenue where the
    supplier and the ordering customer sit in the SAME nation, rolled
    up per nation of one region. The star join with an extra
    cross-dimension equality (c_nationkey = s_nationkey) is what
    distinguishes it from the flagship rollup: the customer-nation
    attribute must survive the orders⋈lineitem join to meet the
    supplier side.

    Scale shape: nation/region broadcast (bounded dims); customer and
    supplier join by key with the nation-equality as a join-side
    residual; the date filter pushes to the orders scan. The final
    aggregate lands on ≤5 nation keys.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name")
    cust_orders = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select("o_orderkey", "c_nationkey")
    rev = li.select(
        "l_orderkey",
        "l_suppkey",
        (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias("rev"),
    )
    joined = (
        rev.join(cust_orders, rev.l_orderkey == cust_orders.o_orderkey)
        .join(
            supplier,
            (rev.l_suppkey == supplier.s_suppkey)
            & (F.col("c_nationkey") == supplier.s_nationkey),
        )
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        dsum_expr(F.col("rev")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "join_min_cost_supplier",
    oracle="""
    WITH offer AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS best_price
      FROM lineitem
      GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT partkey, suppkey, best_price
      FROM offer
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY partkey ORDER BY best_price, suppkey
      ) = 1
    )
    SELECT b.partkey, p.p_brand AS brand,
           s.s_name AS supplier_name,
           CAST(s.s_acctbal AS DOUBLE) AS supplier_acctbal,
           CAST(b.best_price AS DOUBLE) AS best_price
    FROM best b
    JOIN part p     ON p.p_partkey = b.partkey
    JOIN supplier s ON s.s_suppkey = b.suppkey
    WHERE p.p_size >= 40
    ORDER BY b.partkey
    """,
)
def join_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-EXT: TPC-H Q2 shape — the MIN-COST SUPPLIER per part: the
    reference benchmark's correlated scalar subquery
    (``ps_supplycost = (SELECT MIN(...) WHERE ps_partkey = p_partkey)``)
    re-expressed the distributed way: a per-(part, supplier) offer
    aggregate, then ONE window rank per part picks the cheapest
    supplier with a deterministic suppkey tie-break — no correlated
    re-execution per row, one shuffle on the part key. (The testdata
    carries no partsupp table, so the offer relation derives from
    lineitem's observed prices; the plan shape is Q2's.)

    Scale shape: the offer aggregate is map-side-combined on the
    (partkey, suppkey) composite; the window and the part/supplier
    attribute joins all hash on partkey/suppkey; the size filter
    prunes before the attribute join.
    """
    li = _t(spark, sf_dir, "lineitem")
    offer = li.groupBy(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("suppkey"),
    ).agg(F.min(dec("l_extendedprice")).alias("best_price"))
    w = Window.partitionBy("partkey").orderBy("best_price", "suppkey")
    best = (
        offer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 40).select(
        "p_partkey", "p_brand"
    )
    supplier = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return (
        best.join(part, best.partkey == part.p_partkey)
        .join(supplier, best.suppkey == supplier.s_suppkey)
        .select(
            "partkey",
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier_name"),
            F.col("s_acctbal").cast("double").alias("supplier_acctbal"),
            F.col("best_price").cast("double").alias("best_price"),
        )
        .orderBy("partkey")
    )


@register(
    "join_lone_late_supplier",
    oracle="""
    WITH li AS (
      SELECT l.l_orderkey AS orderkey, l.l_suppkey AS suppkey,
             l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    late AS (
      SELECT DISTINCT orderkey, suppkey FROM li WHERE is_late
    ),
    with_other AS (
      SELECT DISTINCT t.orderkey, t.suppkey
      FROM late t
      WHERE EXISTS (SELECT 1 FROM li o
                    WHERE o.orderkey = t.orderkey
                      AND o.suppkey <> t.suppkey)
        AND NOT EXISTS (SELECT 1 FROM late o2
                        WHERE o2.orderkey = t.orderkey
                          AND o2.suppkey <> t.suppkey)
    )
    SELECT s.s_name AS supplier_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM with_other w JOIN supplier s ON s.s_suppkey = w.suppkey
    GROUP BY s.s_name
    """,
)
def join_lone_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-EXT: TPC-H Q21 shape — SUPPLIERS WHO KEPT ORDERS WAITING: per
    supplier, count multi-supplier orders where THIS supplier shipped
    late (>60 days after ordering) and no other supplier on the order
    did — the benchmark's hardest subquery pattern (EXISTS + NOT
    EXISTS against the same fact), compiled to one LEFT SEMI and one
    LEFT ANTI join on the order key with the supplier-inequality
    predicate inside each join. (The testdata has no
    commit/receipt-date pair, so lateness is ship-vs-order date; the
    EXISTS/NOT-EXISTS shape is Q21's.)

    Scale shape: all three relations derive from ONE lineitem⋈orders
    pass; both semi/anti joins hash on the order key (co-partitioned
    with the derivation, no extra shuffle under AQE); the final
    aggregate lands on O(suppliers) keys.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_suppkey").alias("suppkey"),
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("is_late"),
    )
    late = base.filter("is_late").select("orderkey", "suppkey").distinct()
    other = base.select(
        F.col("orderkey").alias("o_orderkey2"),
        F.col("suppkey").alias("o_suppkey2"),
    )
    other_late = late.select(
        F.col("orderkey").alias("l_orderkey2"),
        F.col("suppkey").alias("l_suppkey2"),
    )
    lone = (
        late.join(
            other,
            (F.col("orderkey") == F.col("o_orderkey2"))
            & (F.col("suppkey") != F.col("o_suppkey2")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("orderkey") == F.col("l_orderkey2"))
            & (F.col("suppkey") != F.col("l_suppkey2")),
            "left_anti",
        )
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lone.join(supplier, lone.suppkey == supplier.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier_name"))
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@register("agg_sketch_rollup_users", oracle=None)
def agg_sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: SKETCH ALGEBRA rollup (rows-only: Apache DataSketches
    HLL binary images are engine-internal, so no cross-engine oracle
    can exist; pinned instead by tests/test_sketch_rollup.py) — the
    production pattern for distinct-count rollups at 100 TB: persist
    ONE compact HLL sketch per (day) partition, answer every
    coarser-grain question (week, month, lifetime) by MERGING sketches
    — no rescan of the fact data, ever. A daily sketch is ~KB
    regardless of cardinality; the merge is register-wise max.

    Emits per ISO week: the exact distinct users (small-scale truth),
    the direct sketch estimate (one pass over the week), and the
    MERGED estimate (union of that week's daily sketches) — the
    equality of the last two is the mergeability property the whole
    pattern rests on, and the test pins it exactly.
    """
    ev = _t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        # ISO week paired with the ISO WEEK-BASED year (YEAROFWEEK),
        # not the calendar year: Dec 29-31 can belong to week 1 of the
        # NEXT iso year and Jan 1-3 to week 52/53 of the PREVIOUS one —
        # calendar-year pairing would merge those into nonexistent
        # weeks at every year boundary
        F.concat_ws(
            "-",
            F.expr("extract(YEAROFWEEK FROM ts)"),
            F.lpad(F.weekofyear("ts"), 2, "0"),
        ).alias("week"),
        "user_id",
    )
    daily = ev.groupBy("week", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = ev.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "est_direct"
        ),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return direct.join(merged, "week").select(
        "week",
        F.col("exact_users").cast("long").alias("exact_users"),
        F.col("est_direct").cast("long").alias("est_direct"),
        F.col("est_merged").cast("long").alias("est_merged"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (A-EXT, round 11 batch 4)
# ---------------------------------------------------------------------------


#: The nine Benford expectations log10(1+1/d), d=1..9, computed ONCE
#: by CPython's libm log10 and injected as shortest-round-trip decimal
#: literals into BOTH the Spark plan and the DuckDB oracle: literal
#: parse is correctly rounded on both engines, so the constants are
#: bitwise identical by construction — no dependence on whose log10
#: (JVM Math.log10 is only 1-ulp-bounded; DuckDB's is libm) evaluates
#: at query time.
_BENFORD_EXP = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}
_BENFORD_SQL_CASE = "CASE digit " + " ".join(
    f"WHEN '{d}' THEN {v!r}" for d, v in _BENFORD_EXP.items()
) + " END"


@register(
    "agg_benford_first_digit",
    oracle=f"""
    WITH d AS (
      SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                    1, 1) AS digit
      FROM orders
      WHERE o_totalprice >= 1
    )
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS obs_frac,
           {_BENFORD_SQL_CASE} AS exp_frac,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER () AS DOUBLE)
             - {_BENFORD_SQL_CASE} AS deviation
    FROM d
    GROUP BY digit
    """,
)
def agg_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: BENFORD first-digit audit — the classic data-quality /
    fraud lens over a monetary column: observed first-significant-digit
    frequencies of order totals vs the Benford expectation
    log10(1 + 1/d), with the signed deviation per digit. A synthetic or
    tampered amount column jumps out as a fat deviation row; a
    naturally multiplicative one hugs zero.

    Float parity: the first digit comes from the INT64 floor rendered
    as a string (never from float log10 of the price — a value sitting
    on a power-of-10 boundary would flip digits between engines;
    DuckDB CAST(double AS BIGINT) also rounds where Spark truncates,
    which FLOOR-before-cast sidesteps). Counts are exact; the Benford
    expectation is the nine CONSTANTS log10(1+1/d) computed once by
    CPython libm and pinned as round-trip literals in both plans
    (``_BENFORD_EXP``) — neither engine's log10 runs at query time,
    so the 1-ulp JVM-vs-libm hazard cannot arise on any platform —
    and the two divisions are bitwise on equal inputs.

    Scale shape: one scan, map-side partial count onto NINE keys, one
    9-row window for the total — the aggregate any 100 TB fact table
    can afford; the filter pushes to the parquet scan.
    """
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).alias("digit")
    )
    cnt = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    win = Window.partitionBy()
    obs = F.col("n_orders").cast("double") / F.sum("n_orders").over(win).cast(
        "double"
    )
    exp_frac = F.element_at(
        F.create_map(
            *[F.lit(x) for d, v in _BENFORD_EXP.items() for x in (str(d), v)]
        ),
        F.col("digit"),
    )
    return cnt.select(
        "digit",
        "n_orders",
        obs.alias("obs_frac"),
        exp_frac.alias("exp_frac"),
        (obs - exp_frac).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# Gini revenue-concentration audit (A-EXT, round 11 batch 5)
# ---------------------------------------------------------------------------


#: ``spend(c_nationkey, o_custkey, cents)``: each customer's total
#: order value in integer cents.
_SQL_CUSTOMER_SPEND = """spend AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    )"""


@register(
    "agg_revenue_gini_by_nation",
    oracle=f"""
    WITH {_SQL_CUSTOMER_SPEND},
    ranked AS (
      SELECT c_nationkey, cents,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY cents, o_custkey) AS i
      FROM spend
    ),
    agg AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(cents) AS sum_x,
             SUM(i * cents) AS sum_ix
      FROM ranked GROUP BY c_nationkey
    )
    SELECT n.n_name AS nation,
           a.n_customers,
           CAST(a.sum_x AS DOUBLE) / 100 AS revenue,
           CAST(2 * a.sum_ix - (a.n_customers + 1) * a.sum_x AS DOUBLE)
             / CAST(a.n_customers * a.sum_x AS DOUBLE) AS gini
    FROM agg a JOIN nation n ON n.n_nationkey = a.c_nationkey
    """,
)
def agg_revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: GINI revenue concentration per nation — the inequality
    audit over purchasing customers: G = (2·Σi·x_i − (n+1)·Σx)/(n·Σx)
    with spend ranked ascending (ties broken by custkey, so the rank —
    and therefore the statistic — is deterministic cross-engine).
    G ≈ 0 says revenue is spread evenly; G → 1 says a handful of
    customers carry the nation — the whale-dependence number that
    complements ``agg_key_skew_report``'s partition-skew lens with an
    economic one.

    Float parity: spend moves through exact DECIMAL(18,2) into integer
    CENTS; ranks are integers; Σx and Σi·x accumulate exactly on both
    engines (Spark: DECIMAL(38,0) sums of long products; DuckDB:
    HUGEINT sums of BIGINT — both exact integer arithmetic), and the
    single double division at the end is bitwise on equal inputs. At
    cluster scale the int64 product i·cents needs the same
    DECIMAL(38,0) widening Spark already applies — noted, not hit, at
    bench SFs.

    Scale shape: one orders scan aggregated to O(customers) keys
    (map-side combine), a per-nation window on that relation (the sort
    is per-nation, never global), a 25-key final aggregate and a
    broadcast nation join.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            (F.sum(dec("o_totalprice")) * 100)
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
    ranked = spend.select(
        "c_nationkey", "cents", F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sum_x"),
        F.sum((F.col("i") * F.col("cents")).cast("decimal(38,0)")).alias(
            "sum_ix"
        ),
    )
    return agg.join(F.broadcast(n), agg.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        "n_customers",
        (F.col("sum_x").cast("double") / 100).alias("revenue"),
        (
            (2 * F.col("sum_ix") - (F.col("n_customers") + 1) * F.col("sum_x"))
            .cast("double")
            / (F.col("n_customers") * F.col("sum_x")).cast("double")
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Data-profiling lenses (A-EXT, round 11 batch 7)
# ---------------------------------------------------------------------------

#: Candidate functional dependencies profiled over lineitem: does the
#: determinant column fix the dependent column? (orderkey→suppkey
#: fails on multi-supplier orders; partkey→suppkey fails on
#: multi-sourced parts — the VIOLATION COUNTS are the profile.)
_FD_PAIRS = (
    ("l_orderkey", "l_suppkey"),
    ("l_partkey", "l_suppkey"),
    ("l_suppkey", "l_partkey"),
)


def _fd_oracle() -> str:
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT '{det} -> {dep}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_det_values,
           CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(MAX(n_dep) AS BIGINT) AS max_dep_per_det,
           CAST(SUM(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS violation_frac
    FROM (
      SELECT {det}, COUNT(DISTINCT {dep}) AS n_dep
      FROM lineitem GROUP BY {det}
    )"""
        for det, dep in _FD_PAIRS
    )
    return f"\n{arms}\n"


@register("agg_functional_dependencies", oracle=_fd_oracle())
def agg_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: FUNCTIONAL-DEPENDENCY profiling — for each candidate
    determinant→dependent column pair, how many determinant values
    map to more than one dependent value (the violation count that
    decides whether a column can key a dimension, dedupe a join, or
    partition a layout). The schema-discovery primitive every data
    profiler runs before modeling a new 100 TB table; complements the
    null/range checks of ``agg_data_quality_report``.

    Scale shape: one groupBy per candidate pair (uniform keys,
    map-side partial COUNT DISTINCT collapse), each reduced to a
    1-row aggregate before the 3-row union — the fact table is
    scanned once per pair with only the two profiled columns read
    (column pruning reaches the parquet scan). Violation fraction is
    a double ratio of exact ints.
    """
    li = _t(spark, sf_dir, "lineitem")

    def _profile(per_det: DataFrame, det: str, dep: str) -> DataFrame:
        return per_det.agg(
            F.lit(f"{det} -> {dep}").alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_det_values"),
            F.sum((F.col("n_dep") > 1).cast("int"))
            .cast("long")
            .alias("n_violating"),
            F.max("n_dep").cast("long").alias("max_dep_per_det"),
            (
                F.sum((F.col("n_dep") > 1).cast("int")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("violation_frac"),
        )

    # r18 (VERDICT #7, guide §2.3/§2.4): the partkey→suppkey and
    # suppkey→partkey arms profile the SAME column pair from opposite
    # ends, so one shared distinct-(partkey, suppkey) relation serves
    # both — each arm's count-distinct-per-determinant is just a row
    # count per key over the deduped pairs. One lineitem scan and one
    # pair-dedup exchange replace two scans and two countDistinct
    # shuffles.
    ok = (
        li.select("l_orderkey", "l_suppkey")
        .groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_dep"))
    )
    ps_pairs = pin(li.select("l_partkey", "l_suppkey").distinct())
    a1 = _profile(ok, "l_orderkey", "l_suppkey")
    a2 = _profile(
        ps_pairs.groupBy("l_partkey").agg(
            F.count(F.lit(1)).alias("n_dep")
        ),
        "l_partkey",
        "l_suppkey",
    )
    a3 = _profile(
        ps_pairs.groupBy("l_suppkey").agg(
            F.count(F.lit(1)).alias("n_dep")
        ),
        "l_suppkey",
        "l_partkey",
    )
    return a1.unionByName(a2).unionByName(a3)


@register(
    "agg_event_drift_report",
    oracle="""
    WITH b AS (
      SELECT event_type, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM b
    ),
    halves AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_early,
             CAST(SUM(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late
      FROM b, m GROUP BY event_type
    )
    SELECT event_type, n_early, n_late,
           CAST(n_early AS DOUBLE)
             / CAST(SUM(n_early) OVER () AS DOUBLE) AS share_early,
           CAST(n_late AS DOUBLE)
             / CAST(SUM(n_late) OVER () AS DOUBLE) AS share_late,
           CAST(n_late AS DOUBLE)
             / CAST(SUM(n_late) OVER () AS DOUBLE)
             - CAST(n_early AS DOUBLE)
               / CAST(SUM(n_early) OVER () AS DOUBLE) AS share_drift,
           CAST(n_late + 1 AS DOUBLE) / CAST(n_early + 1 AS DOUBLE)
             AS smoothed_ratio
    FROM halves
    """,
)
def agg_event_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: EVENT-MIX DRIFT report — per event type, frequency in
    the early vs late half of the stream's time range (midpoint of
    the epoch-microsecond span), share-of-traffic in each half, the
    share delta, and an add-one-smoothed late/early ratio. The
    monitoring lens that catches a logger change or product shift
    that per-day counts bury — and for a training corpus with
    timestamps, the temporal analogue of ``llm_cross_source_overlap``.

    Float parity: the split point is PURE int64 arithmetic — Spark
    ``div`` and DuckDB ``//`` both truncate integer quotients toward
    zero (verified: DuckDB ``(-7)//2 = -3``), so (min+max) div 2 is
    identical at every sign and magnitude; a double-division round
    trip would lose exactness past 2^53 epoch-microseconds. Counts
    exact; the four derived columns are double ratios of exact ints.

    Scale shape: one events scan (two columns) → a 1-row min/max
    broadcast → one event_type hash agg with map-side combine → an
    O(types)-row window. The fact table never shuffles by row.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us")
    )
    m = ev.agg(
        F.expr("(min(us) + max(us)) div 2").cast("long").alias("mid")
    )
    halves = (
        ev.join(F.broadcast(m))
        .groupBy("event_type")
        .agg(
            F.sum((F.col("us") < F.col("mid")).cast("int"))
            .cast("long")
            .alias("n_early"),
            F.sum((F.col("us") >= F.col("mid")).cast("int"))
            .cast("long")
            .alias("n_late"),
        )
    )
    w = Window.partitionBy()
    se = F.col("n_early").cast("double") / F.sum("n_early").over(w).cast(
        "double"
    )
    sl = F.col("n_late").cast("double") / F.sum("n_late").over(w).cast(
        "double"
    )
    return halves.select(
        "event_type",
        "n_early",
        "n_late",
        se.alias("share_early"),
        sl.alias("share_late"),
        (sl - se).alias("share_drift"),
        (
            (F.col("n_late") + 1).cast("double")
            / (F.col("n_early") + 1).cast("double")
        ).alias("smoothed_ratio"),
    )


# ---------------------------------------------------------------------------
# Order-priority pipeline check (A-EXT, round 12 batch 1 — the TPC-H
# Q4 shape: EXISTS-semi-join + tiny-domain aggregate)
# ---------------------------------------------------------------------------

_PRIO_Q_START, _PRIO_Q_END = "1996-07-01", "1996-10-01"


@register(
    "agg_priority_late_orders",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_flagged_orders
    FROM orders
    WHERE o_orderdate >= DATE '{_PRIO_Q_START}'
      AND o_orderdate < DATE '{_PRIO_Q_END}'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    """,
)
def agg_priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: ORDER-PRIORITY pipeline check (the TPC-H Q4 shape; this
    testdata's lineitem carries l_returnflag rather than
    commit/receipt dates, so the per-line failure predicate is "line
    was returned") — for one quarter, how many orders of each priority
    class had at least one failed lineitem: the order-fulfilment SLA
    report, and the canonical EXISTS-semi-join benchmark shape (an
    order with five flagged lines must count ONCE — a plain join
    would multiply it).

    Scale shape: the date filter pushes to the orders parquet scan
    (one quarter of the fact table); the EXISTS compiles to a LEFT
    SEMI hash join keyed on the uniform l_orderkey — the semi join
    short-circuits per key and never materializes the multiplicity —
    and the final aggregate collapses onto the five-value priority
    domain with map-side combine. Both fact tables shuffle only their
    key columns; at 100 TB this is the partition-pruned semi-join
    every warehouse runs nightly.
    """
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_PRIO_Q_START).cast("date"))
        & (F.col("o_orderdate") < F.lit(_PRIO_Q_END).cast("date"))
    )
    late = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(
            late,
            o["o_orderkey"] == late["l_orderkey"],
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_flagged_orders"))
    )


# ---------------------------------------------------------------------------
# Round-12 batch 2: robust daily-volume anomaly, customer-LTV cohorts
# ---------------------------------------------------------------------------

#: Robust z-score convention: 0.6745·(x−median)/MAD (the consistency
#: constant that makes MAD comparable to σ under normality) and the
#: standard 3.5 cutoff (Iglewicz–Hoaglin).
_ANOM_C = 0.6745
_ANOM_CUT = 3.5


@register(
    "agg_event_daily_anomaly",
    oracle=f"""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    med AS (SELECT quantile_cont(n_events, 0.5) AS med FROM daily),
    mad AS (
      SELECT quantile_cont(abs(n_events - med), 0.5) AS mad
      FROM daily, med
    )
    SELECT day, n_events,
           CASE WHEN mad.mad = 0 THEN NULL
                ELSE {_ANOM_C} * (n_events - med.med) / mad.mad END
             AS robust_z,
           CASE WHEN mad.mad = 0 THEN FALSE
                ELSE abs({_ANOM_C} * (n_events - med.med) / mad.mad)
                     > {_ANOM_CUT} END AS is_anomaly
    FROM daily, med, mad
    """,
)
def agg_event_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: DAILY-VOLUME ANOMALY detection — per calendar day, the
    event count and its ROBUST z-score against the median/MAD of all
    daily counts, with the standard |z|>3.5 flag: the logging-outage /
    bot-spike monitor that mean±σ misses whenever the anomaly itself
    inflates the baseline (the reason MAD, not stddev, is the
    denominator — one 100× spike day moves the median by nothing).
    ``agg_mad_outliers`` applies this rule to a VALUE column; this is
    its time-series twin over the event stream's day axis.

    Exactness: daily counts exact int64; both medians are exact
    interpolated percentiles (``percentile`` ≡ ``quantile_cont``, the
    agg_percentile_prices precedent); z is raw double arithmetic
    sharing the two literal constants; MAD=0 degenerates to NULL/no
    flag identically on both engines.

    Scale shape: one events scan → hash agg onto O(days) keys →
    two exact percentiles over the O(days) relation (tiny at any
    corpus scale: ten years is 3,653 rows) broadcast back as 1-row
    scalars. The fact table is touched once.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    med = daily.agg(F.expr("percentile(n_events, 0.5D)").alias("med"))
    mad = (
        daily.crossJoin(F.broadcast(med))
        .select(F.abs(F.col("n_events") - F.col("med")).alias("adev"))
        .agg(F.expr("percentile(adev, 0.5D)").alias("mad"))
    )
    z = (
        F.lit(_ANOM_C)
        * (F.col("n_events") - F.col("med"))
        / F.col("mad")
    )
    return (
        daily.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "day",
            "n_events",
            F.when(F.col("mad") == 0, F.lit(None).cast("double"))
            .otherwise(z)
            .alias("robust_z"),
            F.when(F.col("mad") == 0, F.lit(False))
            .otherwise(F.abs(z) > _ANOM_CUT)
            .alias("is_anomaly"),
        )
    )


@register(
    "agg_customer_ltv_cohorts",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey,
             MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS m0
      FROM orders GROUP BY o_custkey
    ),
    sized AS (
      SELECT m0, COUNT(*) AS cohort_size FROM first_order GROUP BY m0
    ),
    rev AS (
      SELECT f.m0,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.m0
               AS month_offset,
             COUNT(DISTINCT o.o_custkey) AS n_buyers,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_dec
      FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    )
    SELECT printf('%04d-%02d', (r.m0 - 1) // 12, ((r.m0 - 1) % 12) + 1)
             AS cohort_month,
           CAST(r.month_offset AS BIGINT) AS month_offset,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           CAST(r.n_buyers AS BIGINT) AS n_buyers,
           CAST(r.rev_dec AS DOUBLE) AS revenue,
           CAST(r.rev_dec AS DOUBLE) / s.cohort_size AS ltv_per_customer
    FROM rev r JOIN sized s ON r.m0 = s.m0
    WHERE r.month_offset <= 6
    """,
)
def agg_customer_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: LIFETIME-VALUE cohorts — customers grouped by
    first-order month, and for each cohort the revenue contributed N
    months later plus per-customer LTV (first two quarters shown):
    the revenue-side twin of ``agg_retention_cohorts`` (which counts
    presence; this weighs it). The month axis is pure integer
    arithmetic (year·12+month) on BOTH engines, so no
    months_between/date_diff semantic gap can bite.

    Exactness: cohort keys and offsets are exact ints; revenue sums
    in DECIMAL(18,2) (order-independent) and converts to double only
    at the output edge; buyer counts are exact distinct counts; the
    per-customer LTV is one double division. Scale shape: a
    customer-keyed min-aggregate (map-side combinable), one fact join
    on the uniform o_custkey, and a hash agg onto O(cohorts×offsets)
    keys — the distinct count shuffles (cohort, offset, custkey)
    once; nothing is row-multiplied.
    """
    o = _t(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
    first = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
            "m0"
        )
    )
    sized = first.groupBy("m0").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    rev = (
        o.join(first, "o_custkey")
        .select(
            "m0",
            (
                (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
                - F.col("m0")
            ).alias("month_offset"),
            "o_custkey",
            dec("o_totalprice").alias("p"),
        )
        .groupBy("m0", "month_offset")
        .agg(
            F.countDistinct("o_custkey").cast("long").alias("n_buyers"),
            F.sum("p").alias("rev_dec"),
        )
        .filter(F.col("month_offset") <= 6)
    )
    cohort_month = F.format_string(
        "%04d-%02d",
        F.expr("(m0 - 1) div 12"),
        ((F.col("m0") - 1) % 12 + 1).cast("int"),
    )
    return rev.join(sized, "m0").select(
        cohort_month.alias("cohort_month"),
        F.col("month_offset").cast("long").alias("month_offset"),
        "cohort_size",
        "n_buyers",
        F.col("rev_dec").cast("double").alias("revenue"),
        (
            F.col("rev_dec").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("ltv_per_customer"),
    )


# ---------------------------------------------------------------------------
# Round-12 batch 4: customer reorder-gap distribution
# ---------------------------------------------------------------------------


@register(
    "agg_reorder_gap_distribution",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             datediff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap_days
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_repeat_customers,
           quantile_cont(gap_days, 0.5) AS median_gap_days,
           quantile_cont(gap_days, 0.9) AS p90_gap_days,
           CAST(SUM(gap_days) AS DOUBLE) / COUNT(*) AS mean_gap_days
    FROM gaps WHERE gap_days IS NOT NULL
    """,
)
def agg_reorder_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/W-EXT: REORDER-GAP distribution — the inter-purchase-time
    report behind every repeat-rate and churn-window decision: across
    all consecutive same-customer order pairs, the count of gaps and
    repeat customers plus the median / p90 / mean gap in days. The
    cadence complement of A42's RFM recency (which reads only the
    LAST gap to today).

    Exactness: gaps are exact integer day differences from a
    deterministic lag window (date, then orderkey tie-break — same-day
    reorders yield gap 0, never engine-ordering noise); percentiles
    are exact interpolated (percentile ≡ quantile_cont on identical
    int inputs); the mean is one double division of exact ints.

    Scale shape: one orders scan → lag window partitioned by the
    uniform o_custkey (each customer's orders are a handful of rows —
    no skew, no WindowExec single-partition hazard) → one global
    aggregate with two exact percentiles over the O(orders) short
    gap column (the documented percentile_approx twin swaps in at
    warehouse scale, same plan).
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.countDistinct("o_custkey").cast("long").alias("n_repeat_customers"),
        F.expr("percentile(gap_days, 0.5D)").alias("median_gap_days"),
        F.expr("percentile(gap_days, 0.9D)").alias("p90_gap_days"),
        (
            F.sum("gap_days").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_gap_days"),
    )


# ---------------------------------------------------------------------------
# Round-12 batch 5: revenue-concentration lenses (HHI, Pareto share)
# ---------------------------------------------------------------------------


@register(
    "agg_supplier_concentration_hhi",
    oracle="""
    WITH sup_rev AS (
      SELECT s.s_nationkey,
             l.l_suppkey,
             CAST(FLOOR(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))))
               AS BIGINT) AS rev_usd
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    nat AS (
      SELECT s_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             SUM(rev_usd) AS total_usd,
             SUM(rev_usd * rev_usd) AS sq_sum
      FROM sup_rev GROUP BY 1
    )
    SELECT n.n_name AS nation,
           a.n_suppliers,
           CAST(a.total_usd AS BIGINT) AS total_revenue_usd,
           CAST(a.sq_sum AS DOUBLE) / (CAST(a.total_usd AS DOUBLE)
                       * CAST(a.total_usd AS DOUBLE)) AS hhi,
           1.0 / a.n_suppliers AS hhi_floor
    FROM nat a JOIN nation n ON a.s_nationkey = n.n_nationkey
    """,
)
def agg_supplier_concentration_hhi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A48 EXT: HERFINDAHL-HIRSCHMAN supplier concentration — per
    nation, the HHI of supplier revenue shares (Σ share², 1/n for
    perfect competition, 1.0 for monopoly) plus the 1/n floor for
    calibration: the supply-risk twin of the A48 Gini (Gini reads
    inequality of the distribution, HHI reads how few hands hold it —
    antitrust's number). A nation whose HHI runs far above its floor
    is a single-supplier failure domain.

    Exactness: shares are computed on WHOLE-DOLLAR floored revenues
    so the whole pipeline is exact int64 — a double square-sum
    differs by summation order between engines (measured 1-ulp
    drift), and a wide-DECIMAL square-sum differs at the
    decimal→double EDGE (Java BigDecimal.doubleValue is correctly
    rounded to the true value; a scaled-int128-then-divide conversion
    is not). int64→double conversion IS correctly rounded on both
    engines, so the final division sees bitwise-equal inputs. Scale
    note: int64 squares hold to ~$3B per supplier; past that the
    metric moves to micro-unit integer output.

    Scale shape: one lineitem scan → (nation, supplier) hash agg with
    map-side combine (uniform supplier keys) → O(nations) rollup with
    a 25-row dimension broadcast. The fact table never shuffles by
    row.
    """
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    sup_rev = (
        l.join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
               l["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.floor(F.sum(rev)).cast("long").alias("rev_usd"))
    )
    nat = sup_rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("rev_usd").alias("total_usd"),
        F.sum(F.col("rev_usd") * F.col("rev_usd")).alias("sq_sum"),
    )
    return nat.join(
        F.broadcast(n), nat["s_nationkey"] == n["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        "n_suppliers",
        F.col("total_usd").cast("long").alias("total_revenue_usd"),
        (
            F.col("sq_sum").cast("double")
            / (
                F.col("total_usd").cast("double")
                * F.col("total_usd").cast("double")
            )
        ).alias("hhi"),
        (F.lit(1.0) / F.col("n_suppliers").cast("double")).alias(
            "hhi_floor"
        ),
    )


#: Pareto bands: revenue share of the top 1% / 10% / 20% of customers
#: (by spend). Band membership is an exact integer-rank threshold so
#: both engines cut identically.
_PARETO_BANDS = [(1, 100), (10, 100), (20, 100)]


@register(
    "agg_customer_pareto_share",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT spend_dec,
             ROW_NUMBER() OVER (ORDER BY spend_dec DESC, o_custkey) AS rnk,
             COUNT(*) OVER () AS n,
             SUM(spend_dec) OVER () AS total_dec
      FROM spend
    )
    {" UNION ALL ".join(
      f'''SELECT '{num}%' AS band,
           CAST(SUM(CASE WHEN rnk * {den} <= n * {num}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN rnk * {den} <= n * {num}
                         THEN spend_dec ELSE 0 END) AS DOUBLE)
             / CAST(MIN(total_dec) AS DOUBLE) AS revenue_share
      FROM ranked'''
      for num, den in _PARETO_BANDS
    )}
    """,
)
def agg_customer_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A48 EXT: PARETO revenue-share bands — the share of total order
    revenue contributed by the top 1% / 10% / 20% of customers by
    spend: the whale-dependence report ("do 20% of customers carry
    80%?") that Gini compresses into one number and this spells out
    at the thresholds businesses actually quote.

    Exactness: per-customer spend in DECIMAL; band membership is an
    exact integer cross-multiplied rank test (rnk·100 ≤ n·pct — no
    float percent, no engine rounding at the cut); band revenue stays
    DECIMAL until the one double share division.

    Scale shape: one orders scan → custkey hash agg (uniform keys,
    map-side combine) → a global rank over the O(customers) spend
    relation (two short columns; at warehouse scale this is the
    classic total-order-by-spend — a range-partitioned sort, not a
    single-partition window: the documented swap is rank via
    percent_rank on a range-partitioned sort) → three counting
    passes folded into one aggregate per band.
    """
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).alias("spend_dec")
    )
    w = Window.orderBy(F.desc("spend_dec"), "o_custkey")
    wall = Window.partitionBy()
    ranked = spend.select(
        "spend_dec",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("spend_dec").over(wall).alias("total_dec"),
    )
    bands = None
    for num, den in _PARETO_BANDS:
        in_band = F.col("rnk") * den <= F.col("n") * num
        b = ranked.agg(
            F.lit(f"{num}%").alias("band"),
            F.sum(in_band.cast("long")).cast("long").alias("n_customers"),
            (
                F.sum(
                    F.when(in_band, F.col("spend_dec")).otherwise(
                        F.lit(0).cast("decimal(18,2)")
                    )
                ).cast("double")
                / F.min("total_dec").cast("double")
            ).alias("revenue_share"),
        )
        bands = b if bands is None else bands.unionByName(b)
    return bands


# ---------------------------------------------------------------------------
# Round-12 batch 6: DAU/WAU stickiness
# ---------------------------------------------------------------------------


@register(
    "agg_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    wau AS (
      SELECT days.d, CAST(COUNT(DISTINCT ud.user_id) AS BIGINT) AS wau
      FROM days
      JOIN ud ON ud.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
      GROUP BY days.d
    ),
    dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY d
    )
    SELECT strftime(w.d, '%Y-%m-%d') AS day,
           dau.dau, w.wau,
           CAST(dau.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
    FROM wau w JOIN dau ON dau.d = w.d
    """,
)
def agg_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A33 EXT: DAU/WAU STICKINESS per day — the engagement ratio
    (what fraction of this week's actives showed up today) that
    product teams track as THE habit metric: DAU and WAU both rise in
    a growth spurt, but stickiness only rises when the same users
    return. Derives both numerators from ONE (user, day)-distinct
    relation — A33's rolling-WAU band join and the plain DAU agg —
    so the three reports (A16 cumulative, A33 WAU, this) share one
    distinct pass.

    Exactness: both counts exact distinct int64; one double ratio.
    Scale shape: the (user, day) DISTINCT relation band-joins the day
    axis with ≤7× fan-out (linear in distinct user-days, never raw
    events); the DAU agg reads the same relation; the final join is
    day-keyed over O(days) rows.
    """
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select(F.col("d").alias("day_d")).distinct()
    wau = (
        F.broadcast(days)
        .join(
            ud,
            (ud.d >= F.date_sub(F.col("day_d"), 6))
            & (ud.d <= F.col("day_d")),
        )
        .groupBy("day_d")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    return wau.join(dau, wau["day_d"] == dau["d"]).select(
        F.date_format("day_d", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    )


# ---------------------------------------------------------------------------
# Round-13 batch 1: order-backlog sweep line, referential-integrity audit
# ---------------------------------------------------------------------------


@register(
    "agg_orders_backlog_timeseries",
    oracle="""
    WITH spans AS (
      -- the synthetic data has ~20% of orders whose last shipdate
      -- precedes the orderdate; clamp so every span is open at least
      -- on its order day (both engines apply the same clamp)
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS s,
             GREATEST(CAST(o.o_orderdate AS DATE), CAST(m.mx AS DATE)) AS e
      FROM orders o
      JOIN (SELECT l_orderkey, MAX(l_shipdate) AS mx
            FROM lineitem GROUP BY l_orderkey) m
        ON m.l_orderkey = o.o_orderkey
    ),
    days AS (
      SELECT DISTINCT d FROM (
        SELECT s AS d FROM spans
        UNION ALL SELECT e + 1 FROM spans
      )
    ),
    opened AS (SELECT s AS d, COUNT(*) AS n FROM spans GROUP BY s),
    closed AS (SELECT e + 1 AS d, COUNT(*) AS n FROM spans GROUP BY 1),
    stab AS (
      SELECT days.d, COUNT(sp.s) AS n
      FROM days LEFT JOIN spans sp ON sp.s <= days.d AND sp.e >= days.d
      GROUP BY days.d
    )
    SELECT strftime(stab.d, '%Y-%m-%d') AS day,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n_opened,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_closed,
           CAST(stab.n AS BIGINT) AS backlog
    FROM stab
    LEFT JOIN opened o ON o.d = stab.d
    LEFT JOIN closed c ON c.d = stab.d
    """,
)
def agg_orders_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A58 EXT: OPEN-ORDER BACKLOG per day as a SWEEP LINE — the
    interval-stabbing query ("how many orders were open on day d")
    every ops dashboard needs, computed WITHOUT the interval×day range
    join: each order's open interval [orderdate, last shipdate]
    becomes a +1 delta at open and a -1 delta the day after close;
    the per-day deltas aggregate map-side, and one running sum over
    the tiny (O(distinct days), ~2.4k rows at ANY scale factor) delta
    relation reconstructs the backlog exactly.

    The DuckDB oracle deliberately uses the NAIVE formulation — a
    non-equi stab join of days×spans — so the sweep line is checked
    against an independent definition, not a transcription of itself.

    Exactness: all counts exact int64; day strings 'yyyy-MM-dd'.

    Scale shape: close dates come from ONE groupBy(orderkey) over
    lineitem (uniform key, map-side combinable); the delta agg
    shuffles O(distinct days) rows; the final cumulative window runs
    on a single partition of ~date-range rows — thousands, corpus-
    size-independent — which is the sweep line's whole point: a
    days×orders range join (what the oracle does) would be O(days·N)
    and is exactly what this plan avoids at 100 TB.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    close = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("e")
    )
    spans = orders.join(
        close, orders.o_orderkey == close.l_orderkey
    ).select(
        F.to_date("o_orderdate").alias("s"),
        # ~20% of synthetic orders ship "before" ordering; clamp so
        # every span is open at least on its order day (oracle clamps
        # identically)
        F.greatest(F.to_date("o_orderdate"), F.col("e")).alias("e"),
    )
    # Each span contributes its two sweep deltas from ONE pass (an
    # in-row 2-explode), so the lineitem close-date agg and the orders
    # join run once instead of once per delta kind.
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("d"),
                    F.lit(1).alias("o"),
                    F.lit(0).alias("c"),
                ),
                F.struct(
                    F.date_add("e", 1).alias("d"),
                    F.lit(0).alias("o"),
                    F.lit(1).alias("c"),
                ),
            )
        ).alias("x")
    )
    daily = deltas.groupBy(F.col("x.d").alias("d")).agg(
        F.sum("x.o").cast("long").alias("n_opened"),
        F.sum("x.c").cast("long").alias("n_closed"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_opened",
        "n_closed",
        F.sum(F.col("n_opened") - F.col("n_closed"))
        .over(w)
        .cast("long")
        .alias("backlog"),
    )


#: FK edges of the TPC-H-ish star: (edge label, child table, child key,
#: parent table, parent key). The audit emits one row per edge.
_FK_EDGES = [
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


@register(
    "agg_referential_integrity_audit",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{label}' AS edge,
           CAST(COUNT(*) AS BIGINT) AS n_child,
           CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans,
           CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS orphan_rate
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p ON c.{ck} = p.{pk}
    """
        for label, child, ck, parent, pk in _FK_EDGES
    ),
)
def agg_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A59 EXT: REFERENTIAL-INTEGRITY AUDIT across every FK edge of
    the star schema — the data-quality gate a warehouse runs after
    every load: per edge, the child row count, the number of orphan
    children (no matching parent key), and the orphan rate. A
    non-zero row here means a broken ingest (partial parent load,
    key-type drift, truncation) that would silently drop rows from
    every downstream inner join.

    Exactness: counts exact int64; one double ratio per edge.

    Scale shape: each edge is one left join child→DISTINCT(parent
    keys) counted map-side — Catalyst broadcasts the SF-constant
    parents (nation, region) and shuffle-joins the SF-proportional
    ones on their uniform primary keys; the 7 edge reports are
    independent single-row aggregates unioned at the end, so the
    whole audit is embarrassingly parallel across edges. No text, no
    wide rows — keys only — so at 100 TB the audit moves 8-byte
    columns exclusively.
    """
    out = None
    for label, child, ck, parent, pk in _FK_EDGES:
        c = _t(spark, sf_dir, child)
        p = _t(spark, sf_dir, parent).select(pk).distinct()
        orphan = F.col(pk).isNull()
        row = (
            c.join(p, c[ck] == p[pk], "left")
            .agg(
                F.lit(label).alias("edge"),
                F.count(F.lit(1)).cast("long").alias("n_child"),
                F.sum(orphan.cast("long")).cast("long").alias("n_orphans"),
                (
                    F.sum(orphan.cast("long")).cast("double")
                    / F.count(F.lit(1)).cast("double")
                ).alias("orphan_rate"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Round-13 batch 3: brand-affinity lift, CUSUM drift alarm
# ---------------------------------------------------------------------------


@register(
    "agg_brand_affinity_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    bc AS (SELECT brand, COUNT(*) AS n FROM ob GROUP BY brand),
    tot AS (SELECT COUNT(DISTINCT o) AS n_orders FROM ob),
    pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM ob a JOIN ob b ON a.o = b.o AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT p.brand_a, p.brand_b, p.n_both,
           CAST(p.n_both AS DOUBLE) * (SELECT n_orders FROM tot)
             / (CAST(ca.n AS DOUBLE) * cb.n) AS lift
    FROM pairs p
    JOIN bc ca ON ca.brand = p.brand_a
    JOIN bc cb ON cb.brand = p.brand_b
    """,
)
def agg_brand_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A60 EXT: MARKET-BASKET BRAND AFFINITY — for every brand pair,
    the number of orders containing both and the lift
    P(a,b)·N / (P(a)·P(b)·N²)⁻¹-normalized co-occurrence: >1 means
    the brands are bought together more than independence predicts.
    The co-occurrence/association primitive (basket analysis,
    cross-sell, complement detection) the engine was missing.

    Exactness: all counts exact int64 over DISTINCT (order, brand);
    lift is one double expression of exact ints, identical shape both
    engines.

    Scale shape: the pair expansion is a SELF-JOIN ON ORDER KEY, so
    its fan-out is bounded by brands-per-order (≤ lines-per-order,
    ~7) — per-order quadratic, corpus-linear, never brand-domain ×
    corpus; the brand-count relation is SF-constant (brand domain)
    and broadcasts onto the O(brand²) pair aggregate. The distinct
    pass shuffles (order, brand) 8-byte/short-string pairs only.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # (order, brand) distinct feeds FOUR subtrees (brand counts, order
    # total, both self-join sides); each recompute was a lineitem⋈part
    # join + distinct. Materialize once.
    ob = pin(
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    bc = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n"))
    tot = ob.agg(F.countDistinct("o").alias("n_orders"))
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ca = bc.select(F.col("brand").alias("brand_a"), F.col("n").alias("na"))
    cb = bc.select(F.col("brand").alias("brand_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                * F.col("n_orders")
                / (F.col("na").cast("double") * F.col("nb"))
            ).alias("lift"),
        )
    )


@register(
    "window_cusum_drift_alarm",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, COUNT(*) AS t_days, SUM(x) AS x_sum
      FROM daily GROUP BY event_type
    ),
    scaled AS (
      SELECT d.event_type, d.d, d.x,
             s.t_days, s.x_sum,
             s.t_days * d.x - s.x_sum AS y
      FROM daily d JOIN stats s ON s.event_type = d.event_type
    ),
    pre AS (
      SELECT event_type, d, x, t_days, x_sum,
             SUM(y) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS sp
      FROM scaled
    ),
    cus AS (
      SELECT event_type, d, x, t_days, x_sum,
             sp - MIN(sp) OVER (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS c
      FROM pre
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, x AS n_events,
           CAST(c AS DOUBLE) / t_days AS cusum,
           c > x_sum AS alarm
    FROM cus
    """,
)
def window_cusum_drift_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12 EXT: CUSUM DRIFT ALARM per event type — the classic
    one-sided cumulative-sum control chart over daily event counts,
    flagging the day a type's volume has drifted more than one
    average day's worth above its own mean. The recurrence
    ``c_t = max(0, c_{t-1} + y_t)`` looks sequential, but it has the
    closed prefix form ``c_t = S_t - min_{i<=t} S_i`` — two window
    functions — which is what makes it runnable on a cluster at all.

    Exactness: everything stays in INTEGERS until the final column —
    the mean subtraction is scaled out (``y = T·x − ΣX`` instead of
    ``x − ΣX/T``), so prefix sums, prefix mins and the alarm
    comparison are exact int64 on both engines; the one double is a
    final per-row division.

    Scale shape: the daily aggregate is map-side combinable and
    reduces the stream to O(types × days) rows before ANY window
    runs; both windows partition by event_type over that tiny
    relation. The alarm threshold (drift > one mean day, c' > ΣX in
    scaled units) is derived from the data — no tunable literal to
    drift between engines.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("t_days"), F.sum("x").alias("x_sum")
    )
    scaled = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "d",
        "x",
        "t_days",
        "x_sum",
        (F.col("t_days") * F.col("x") - F.col("x_sum")).alias("y"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = scaled.withColumn("sp", F.sum("y").over(w))
    cus = pre.withColumn("c", F.col("sp") - F.min("sp").over(w))
    return cus.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("x").alias("n_events"),
        (F.col("c").cast("double") / F.col("t_days")).alias("cusum"),
        (F.col("c") > F.col("x_sum")).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# Round-13 batch 5: per-user sliding-window burst detection
# ---------------------------------------------------------------------------

#: Sliding burst window width in epoch microseconds (1 hour).
_BURST_US = 3_600_000_000


@register(
    "window_user_burst_rate",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
    ),
    r AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY us
                            RANGE BETWEEN {_BURST_US - 1} PRECEDING
                                      AND CURRENT ROW) AS w
      FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(w) AS BIGINT) AS max_burst_1h,
           CAST(MAX(w) AS DOUBLE) / COUNT(*) AS burst_share
    FROM r
    GROUP BY user_id
    """,
)
def window_user_burst_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13 EXT: PER-USER SLIDING-WINDOW BURST rate — for every user,
    the maximum number of their events inside ANY 1-hour sliding
    window (RANGE frame over event time, not a tumbling bucket that
    splits bursts at grid edges): the rate-limiting / bot-detection
    primitive. A user with 40 events spread over a month and a user
    with 40 events in one hour look identical to a count — only the
    burst column separates them.

    Exactness: epoch-microsecond int64 ordering and exact counts; the
    inclusive [t-1h+1µs, t] frame is the same closed-open hour on
    both engines ({_BURST_US - 1} PRECEDING inclusive ≡ strictly
    less than one hour back).

    Scale shape: the RANGE-frame window partitions by user_id —
    thousands of independent partitions, each linear in that user's
    events (two-pointer frame maintenance, no per-row rescan); the
    per-user reduce is a map-side-combinable MAX/COUNT. Event-time
    skew (one bot user with millions of events) degrades ONE
    partition linearly, not quadratically, and the documented
    mitigation is pre-bucketing that user's rows by coarse time then
    merging window boundaries — the same two-level trick as the
    watermark prefix scan.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-(_BURST_US - 1), 0)
    )
    r = ev.select("user_id", F.count(F.lit(1)).over(w).alias("w"))
    return r.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("w").cast("long").alias("max_burst_1h"),
        (
            F.max("w").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("burst_share"),
    )


# ---------------------------------------------------------------------------
# Round-13 batch 7: per-customer spend-trend OLS
# ---------------------------------------------------------------------------


@register(
    "agg_customer_spend_trend",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS x,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y
      FROM orders
    ),
    s AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx,
             SUM(CAST(x AS BIGINT) * x) AS sxx,
             SUM(y) AS sy,
             SUM(x * y) AS sxy
      FROM o GROUP BY o_custkey
    )
    SELECT o_custkey AS custkey, n AS n_orders,
           CAST(sy AS DOUBLE) AS total_spend,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_per_day
    FROM s
    WHERE n >= 3 AND n * sxx - sx * sx <> 0
    """,
)
def agg_customer_spend_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A61 EXT: PER-CUSTOMER SPEND TREND — ordinary least squares of
    order value against order date, one regression per customer in a
    single aggregation pass: the slope (currency/day) that separates
    growing accounts from churning ones long before a retention flag
    fires. The grouped-OLS primitive (the corpus-level Zipf slope is
    its one-group cousin) every CRM scorecard needs.

    Exactness: x is integer epoch-days, y exact DECIMAL(18,2); all
    five sufficient statistics are exact integer/decimal SUMs
    (order-free), and the slope is ONE double division of exact
    quantities — bitwise identical on both engines. Customers with
    <3 orders or a degenerate x-variance are excluded identically.

    Scale shape: one map-side-combinable groupBy(custkey) computes
    every regression simultaneously — no per-customer iteration, no
    window, no second pass; the output is O(customers). This is the
    canonical "millions of tiny models in one shuffle" shape.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    s = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("long") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.filter((F.col("n") >= 3) & (denom != 0))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("n").alias("n_orders"),
            F.col("sy").cast("double").alias("total_spend"),
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("double")
                / denom.cast("double")
            ).alias("slope_per_day"),
        )
    )


#: Minimum orders for a burstiness row — fewer than 5 gaps makes the
#: σ/μ estimate noise, and the filter keeps the output meaningful.
_BURST_MIN_ORDERS = 5


@register(
    "agg_customer_interarrival_burstiness",
    oracle=f"""
    WITH seq AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate,
                                                       o_orderkey),
                       o_orderdate) AS gap
      FROM orders
    ),
    s AS (
      SELECT o_custkey,
             COUNT(gap) AS n_gaps,
             SUM(gap) AS sg,
             SUM(gap * gap) AS sg2
      FROM seq WHERE gap IS NOT NULL
      GROUP BY o_custkey
      HAVING COUNT(gap) >= {_BURST_MIN_ORDERS - 1}
    )
    SELECT o_custkey AS custkey,
           CAST(n_gaps + 1 AS BIGINT) AS n_orders,
           CAST(sg AS DOUBLE) / n_gaps AS mean_gap_days,
           (sqrt(CAST(n_gaps * sg2 - sg * sg AS DOUBLE)) - CAST(sg AS DOUBLE))
             / (sqrt(CAST(n_gaps * sg2 - sg * sg AS DOUBLE))
                + CAST(sg AS DOUBLE)) AS burstiness
    FROM s
    """,
)
def agg_customer_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A-EXT: per-customer order INTER-ARRIVAL BURSTINESS — the
    Goh-Barabási index B = (σ−μ)/(σ+μ) over the day gaps between a
    customer's consecutive orders: B→−1 metronome-regular, B≈0
    Poisson, B→+1 bursty (long silences punctuated by order storms).
    The behavioral-segmentation primitive behind churn/reactivation
    models; complements the corpus-grain gap histogram (A52) with a
    per-entity score and the spend-trend OLS (A61) with a cadence
    lens.

    Exactness: gaps are exact integer days on a deterministic order
    (date, orderkey tie-break); n·σ² = n·Σg² − (Σg)² and μ derive
    from two exact int64 sums, so B is one fixed chain of double ops
    on identical integers — bitwise cross-engine.

    Scale shape: one customer-keyed window (shuffle keyed by the
    uniform custkey, per-partition sort of ~orders-per-customer
    rows), one hash agg to O(customers), scalar projections after.
    No global sort, no iteration.
    """
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap"),
    )
    s = (
        seq.filter(F.col("gap").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap").alias("sg"),
            F.sum(F.col("gap") * F.col("gap")).alias("sg2"),
        )
        .filter(F.col("n_gaps") >= _BURST_MIN_ORDERS - 1)
    )
    sigma_n = F.sqrt(
        (F.col("n_gaps") * F.col("sg2") - F.col("sg") * F.col("sg"))
        .cast("double")
    )
    return s.select(
        F.col("o_custkey").alias("custkey"),
        (F.col("n_gaps") + 1).cast("long").alias("n_orders"),
        (F.col("sg").cast("double") / F.col("n_gaps")).alias(
            "mean_gap_days"
        ),
        (
            (sigma_n - F.col("sg").cast("double"))
            / (sigma_n + F.col("sg").cast("double"))
        ).alias("burstiness"),
    )


@register(
    "join_nation_trade_matrix",
    oracle=f"""
    WITH flows AS (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             COUNT(*) AS n_lines,
             SUM({_SQL_LINE_REV.replace('l_', 'l.l_')}) AS vol
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE n1.n_name <> n2.n_name
      GROUP BY n1.n_name, n2.n_name
    )
    SELECT a.supp_nation AS nation_a,
           a.cust_nation AS nation_b,
           CAST(a.n_lines AS BIGINT) AS n_lines_ab,
           CAST(COALESCE(b.n_lines, 0) AS BIGINT) AS n_lines_ba,
           CAST(a.vol AS DOUBLE) AS vol_ab,
           CAST(COALESCE(b.vol, 0) AS DOUBLE) AS vol_ba,
           CAST(a.vol - COALESCE(b.vol, 0) AS DOUBLE) AS net_ab
    FROM flows a
    LEFT JOIN flows b ON b.supp_nation = a.cust_nation
                     AND b.cust_nation = a.supp_nation
    WHERE a.supp_nation < a.cust_nation
    """,
)
def join_nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-EXT: the FULL nation-pair TRADE-BALANCE matrix — TPC-H Q7
    generalized from one bilateral pair to every ordered nation pair,
    with the NET balance per canonical (a < b) pair: who ships more
    value to whom, across the whole dim domain at once. The report a
    supply-chain analyst reads instead of running Q7 per pair — one
    pass replaces O(nations²) parameterized queries.

    Exactness: per-direction volumes are exact DECIMAL sums kept
    decimal through the net subtraction, cast to double once at
    output — so the net is bitwise cross-engine even when two big
    volumes nearly cancel (a double-sum net would lose exactly those
    digits).

    Scale shape: the two 25-row nation dims broadcast onto the fact
    joins (suppkey/orderkey/custkey shuffles — the Q7 spine); the
    flow matrix is an O(nations²) aggregate, and the balance
    self-join runs on that tiny relation, not the facts.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = F.broadcast(
        n.withColumnsRenamed({"n_nationkey": "s_nk", "n_name": "supp_nation"})
    )
    n2 = F.broadcast(
        n.withColumnsRenamed({"n_nationkey": "c_nk", "n_name": "cust_nation"})
    )
    flows = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_line_rev()).alias("vol"),  # stays DECIMAL here
        )
    )
    fwd = flows.filter(F.col("supp_nation") < F.col("cust_nation"))
    rev = flows.select(
        F.col("cust_nation").alias("supp_nation"),
        F.col("supp_nation").alias("cust_nation"),
        F.col("n_lines").alias("n_lines_ba"),
        F.col("vol").alias("vol_ba_dec"),
    )
    zero = F.lit(0).cast("decimal(38,4)")
    return fwd.join(rev, ["supp_nation", "cust_nation"], "left").select(
        F.col("supp_nation").alias("nation_a"),
        F.col("cust_nation").alias("nation_b"),
        F.col("n_lines").cast("long").alias("n_lines_ab"),
        F.coalesce("n_lines_ba", F.lit(0)).cast("long").alias("n_lines_ba"),
        F.col("vol").cast("double").alias("vol_ab"),
        F.coalesce(F.col("vol_ba_dec"), zero).cast("double").alias("vol_ba"),
        (F.col("vol") - F.coalesce(F.col("vol_ba_dec"), zero))
        .cast("double")
        .alias("net_ab"),
    )


# ---------------------------------------------------------------------------
# Round-15 batch 3: inequality decomposition, skyline, layout pruning
# ---------------------------------------------------------------------------


def _ln_libm_ext():
    """libm ``ln`` via an Arrow-batched pandas UDF — java.lang.Math.log
    and libm disagree by 1 ulp on some inputs, and DuckDB's ``ln`` IS
    libm (the llm_ops BM25 discipline, reused for the Theil index).
    Applied only to already-aggregated relations (O(customers) spend
    rows, O(nations) totals), never per source row."""
    import math

    @F.pandas_udf("double")
    def _ln(x: pd.Series) -> pd.Series:
        return x.map(lambda v: math.log(v) if pd.notna(v) and v > 0 else None)

    return _ln


@register(
    "agg_theil_inequality_decomposition",
    oracle=f"""
    WITH {_SQL_CUSTOMER_SPEND},
    terms AS (
      SELECT c_nationkey, cents,
             CAST(floor(ln(CAST(cents AS DOUBLE)) * 1000000) AS BIGINT)
               AS ln_micro
      FROM spend
    ),
    grp AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             SUM(CAST(cents AS HUGEINT)) AS s_g,
             SUM(CAST(cents AS HUGEINT) * ln_micro) AS t1_g
      FROM terms GROUP BY c_nationkey
    ),
    tot AS (
      SELECT SUM(s_g) AS s_all, SUM(n_customers) AS n_all FROM grp
    )
    SELECT n.n_name AS nation,
           g.n_customers,
           CAST(g.s_g AS DOUBLE) / 100 AS revenue,
           CAST(CAST(g.t1_g AS VARCHAR) AS DOUBLE)
             / (CAST(g.s_g AS DOUBLE) * 1000000)
             - ln(CAST(g.s_g AS DOUBLE)) + ln(CAST(g.n_customers AS DOUBLE))
             AS theil_within,
           (CAST(g.s_g AS DOUBLE) / CAST(t.s_all AS DOUBLE))
             * (ln(CAST(g.s_g AS DOUBLE)) - ln(CAST(g.n_customers AS DOUBLE))
                - ln(CAST(t.s_all AS DOUBLE)) + ln(CAST(t.n_all AS DOUBLE)))
             AS between_term
    FROM grp g
    CROSS JOIN tot t
    JOIN nation n ON n.n_nationkey = g.c_nationkey
    """,
)
def agg_theil_inequality_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A48 EXT: THEIL-T inequality decomposition — the additive
    complement of the per-nation Gini: the Theil index splits EXACTLY
    into within-group and between-group parts (T = Σ_g between_term_g
    + Σ_g share_g · theil_within_g), so this report answers the
    question Gini cannot: is revenue concentration driven by whales
    WITHIN nations or by imbalance BETWEEN them? Per nation it emits
    the within-group index T_g and the nation's between-group
    contribution; the decomposition identity is pinned by the pure
    twin in tests.

    Float parity: spend is exact integer cents (the Gini discipline);
    the per-customer Σ x·ln x accumulates as exact int64 products of
    cents with MICRO-NAT floors of libm ln (DuckDB's ln IS libm; the
    Spark side evaluates ln with a pandas UDF on the already-reduced
    O(customers) relation — floor quantization makes the sum
    order-independent and cross-engine identical). Group/global ln
    terms apply to exact integers cast to double (< 2^53 through the
    100× probe; envelope documented), so the final chain is fixed
    IEEE ops on identical inputs.

    Scale shape: one orders scan → O(customers) hash agg (map-side
    combine), a pandas-UDF ln over that reduced relation (Arrow
    batches, no per-order Python), an O(nations) agg, a 1-row global
    broadcast, and a broadcast nation join. Nothing is
    corpus-proportional after the first agg; no window, no sort.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ln = _ln_libm_ext()
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg((F.sum(dec("o_totalprice")) * 100).cast("long").alias("cents"))
    )
    terms = spend.select(
        "c_nationkey",
        "cents",
        F.floor(ln(F.col("cents").cast("double")) * 1000000)
        .cast("long")
        .alias("ln_micro"),
    )
    grp = terms.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_g"),
        # cast BEFORE the multiply: the oracle multiplies in HUGEINT, and
        # cents*ln_micro as an int64 product has only ~2.4x headroom at
        # the 100x probe — decimal(38,0)*long keeps the product exact at
        # any replication factor instead of wrapping silently (non-ANSI)
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("ln_micro")).alias(
            "t1_g"
        ),
    )
    tot = grp.agg(
        F.sum("s_g").alias("s_all"),
        F.sum("n_customers").cast("long").alias("n_all"),
    )
    g = grp.crossJoin(F.broadcast(tot))
    ln_sg = ln(F.col("s_g").cast("double"))
    ln_ng = ln(F.col("n_customers").cast("double"))
    ln_sa = ln(F.col("s_all").cast("double"))
    ln_na = ln(F.col("n_all").cast("double"))
    return g.join(F.broadcast(n), g.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        "n_customers",
        (F.col("s_g").cast("double") / 100).alias("revenue"),
        (
            F.col("t1_g").cast("double")
            / (F.col("s_g").cast("double") * 1000000)
            - ln_sg
            + ln_ng
        ).alias("theil_within"),
        (
            (F.col("s_g").cast("double") / F.col("s_all").cast("double"))
            * (ln_sg - ln_ng - ln_sa + ln_na)
        ).alias("between_term"),
    )


@register(
    "skyline_parts_pareto",
    oracle="""
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size <= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
    )
    ORDER BY p.p_size, p.p_partkey
    """,
)
def skyline_parts_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7: SKYLINE (Pareto frontier) operator — the parts no other part
    strictly dominates on (minimize retail price, minimize size): the
    classic multi-criteria shortlist (Börzsönyi et al., ICDE 2001)
    that ORDER BY cannot express because the two criteria don't
    collapse into one key. The oracle is the definitional quadratic
    NOT EXISTS; the Spark plan uses the 2-D reduction that makes
    skylines linear: a part is on the frontier iff it is the cheapest
    at its exact size AND strictly cheaper than every smaller size's
    minimum. Equal (price, size) twins co-survive under strict
    dominance in both forms.

    Exactness: prices are only COMPARED, never summed — min/equality
    on identical doubles is engine-independent; sizes are ints.

    Scale shape: one part scan → O(|distinct sizes|) per-size min agg
    (map-side combine), a running strict-lower min computed by a
    window over that ≤50-row relation (the global sort touches 50
    rows, never the table), then a broadcast join back and a local
    filter. At 100 TB this is scan + broadcast — the quadratic
    dominance test never materializes. Dimensions beyond 2 need the
    grid-partition generalization; 2-D is the common case this
    operator serves.
    """
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    per_size = p.groupBy("p_size").agg(
        F.min("p_retailprice").alias("m_eq")
    )
    w = Window.orderBy("p_size").rowsBetween(
        Window.unboundedPreceding, -1
    )
    mins = per_size.select(
        "p_size", "m_eq", F.min("m_eq").over(w).alias("m_lt")
    )
    return (
        p.join(F.broadcast(mins), "p_size")
        .filter(
            (F.col("p_retailprice") == F.col("m_eq"))
            & (
                F.col("m_lt").isNull()
                | (F.col("p_retailprice") < F.col("m_lt"))
            )
        )
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_size", "p_partkey")
    )


#: Zone-map audit geometry: bucket count (files / row groups the layout
#: would produce) and the probe windows a reporting workload scans.
_ZM_BUCKETS = 64
_ZM_PROBES = (
    ("q1_1996", "1996-01-01", "1996-03-31"),
    ("june_1997", "1997-06-01", "1997-06-30"),
    ("year_1998", "1998-01-01", "1998-12-31"),
    ("week_2000", "2000-05-01", "2000-05-07"),
)
_ZM_EPOCH = "1992-01-01"


def _pruning_report(
    rows_b: DataFrame, probes: DataFrame, match: DataFrame, overlap
) -> DataFrame:
    """Replay every probe against every (layout, bucket) zone of
    ``rows_b``: buckets and rows a pruning scan touches (the zones
    where ``overlap`` holds), the rows that really match (``match``'s
    ``n_match``) and their ratio, per (layout, probe). The zone-map
    audits differ only in their zones and ``overlap`` test."""
    return (
        rows_b.crossJoin(F.broadcast(probes))
        .join(F.broadcast(match), "probe", "left")
        .groupBy("layout", "probe")
        .agg(
            F.count(F.lit(1)).cast("long").alias("buckets_total"),
            F.sum(F.when(overlap, 1).otherwise(0))
            .cast("long")
            .alias("buckets_scanned"),
            F.sum(F.when(overlap, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.coalesce(F.max("n_match"), F.lit(0))
            .cast("long")
            .alias("rows_matching"),
            F.when(
                F.coalesce(F.max("n_match"), F.lit(0)) == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.sum(F.when(overlap, F.col("n_rows")).otherwise(0)).cast(
                    "double"
                )
                / F.max("n_match").cast("double")
            )
            .alias("scan_amplification"),
        )
        .orderBy("layout", "probe")
    )


@register(
    "layout_zonemap_pruning_audit",
    oracle=f"""
    WITH d AS (
      SELECT CAST(CAST(l_shipdate AS DATE) - DATE '{_ZM_EPOCH}' AS BIGINT)
               AS day, l_orderkey
      FROM lineitem
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
    rows_b AS (
      SELECT layout, bucket, MIN(day) AS zmin, MAX(day) AS zmax,
             COUNT(*) AS n_rows
      FROM (
        SELECT day, 'hash' AS layout, l_orderkey % {_ZM_BUCKETS} AS bucket
        FROM d
        UNION ALL
        SELECT day, 'date_sorted' AS layout,
               ((day - b.lo) * {_ZM_BUCKETS}) // (b.hi - b.lo + 1) AS bucket
        FROM d CROSS JOIN bounds b
      )
      GROUP BY layout, bucket
    ),
    probes AS (
      SELECT * FROM (VALUES {", ".join(
        f"('{name}', CAST(DATE '{lo}' - DATE '{_ZM_EPOCH}' AS BIGINT), "
        f"CAST(DATE '{hi}' - DATE '{_ZM_EPOCH}' AS BIGINT))"
        for name, lo, hi in _ZM_PROBES
      )}) t(probe, p_lo, p_hi)
    ),
    match AS (
      SELECT p.probe, COUNT(*) AS n_match
      FROM probes p JOIN d ON d.day BETWEEN p.p_lo AND p.p_hi
      GROUP BY p.probe
    )
    SELECT r.layout, p.probe,
           CAST(COUNT(*) AS BIGINT) AS buckets_total,
           CAST(SUM(CASE WHEN r.zmin <= p.p_hi AND r.zmax >= p.p_lo
                         THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
           CAST(SUM(CASE WHEN r.zmin <= p.p_hi AND r.zmax >= p.p_lo
                         THEN r.n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(COALESCE(MAX(m.n_match), 0) AS BIGINT) AS rows_matching,
           CASE WHEN COALESCE(MAX(m.n_match), 0) = 0 THEN NULL
                ELSE CAST(SUM(CASE WHEN r.zmin <= p.p_hi AND r.zmax >= p.p_lo
                              THEN r.n_rows ELSE 0 END) AS DOUBLE)
                     / MAX(m.n_match) END AS scan_amplification
    FROM rows_b r
    CROSS JOIN probes p
    LEFT JOIN match m ON m.probe = p.probe
    GROUP BY r.layout, p.probe
    ORDER BY r.layout, p.probe
    """,
)
def layout_zonemap_pruning_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S17/S19 EXT: ZONE-MAP pruning audit — the measured answer to
    "is sorting this table by ship date worth the write cost?": bucket
    lineitem 64 ways under two layouts (hash-on-orderkey,
    i.e. arrival order; range-on-shipdate, i.e. sort-clustered), build
    each bucket's [min, max] ship-day zone map, and replay four
    reporting probe windows against the maps. ``rows_scanned /
    rows_matching`` is the scan amplification a predicate-pushdown
    engine pays under each layout — hash layouts touch every bucket
    for any date probe (every zone spans the full range); the sorted
    layout prunes to the overlapping stripe. This is the parquet
    row-group min/max statistics mechanism itself, audited from
    inside the engine — the number that justifies the Z-order writer
    (S17/S19) before rewriting 100 TB.

    Exactness: days are exact integer date differences from a shared
    epoch; bucket ids integer arithmetic; counts int64; the
    amplification is one IEEE divide (NULL when a probe matches
    nothing, both engines).

    Scale shape: ONE lineitem scan of two columns computes both
    layouts' bucket ids (the layout axis is a per-row 2-entry map
    explode, not a second scan), one (layout, bucket) zone agg —
    map-side combinable, O(2·64) rows out — plus an
    O(probes) match count off the same projection; the probe replay
    joins literals against the tiny zone relation. The 1-row min/max
    bounds broadcast is the only non-equi piece.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.datediff(
            F.col("l_shipdate"), F.lit(_ZM_EPOCH).cast("date")
        )
        .cast("long")
        .alias("day"),
        "l_orderkey",
    )
    bounds = li.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    with_b = li.crossJoin(F.broadcast(bounds))
    layout_map = F.create_map(
        F.lit("hash"),
        F.pmod("l_orderkey", F.lit(_ZM_BUCKETS)).cast("long"),
        F.lit("date_sorted"),
        F.floor(
            ((F.col("day") - F.col("lo")) * _ZM_BUCKETS)
            / (F.col("hi") - F.col("lo") + 1)
        ).cast("long"),
    )
    rows_b = (
        with_b.select(
            "day", F.explode(layout_map).alias("layout", "bucket")
        )
        .groupBy("layout", "bucket")
        .agg(
            F.min("day").alias("zmin"),
            F.max("day").alias("zmax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    probes = spark.createDataFrame(
        [(name, lo, hi) for name, lo, hi in _ZM_PROBES],
        "probe string, lo_date string, hi_date string",
    ).select(
        "probe",
        F.datediff(F.col("lo_date").cast("date"), F.lit(_ZM_EPOCH).cast("date"))
        .cast("long")
        .alias("p_lo"),
        F.datediff(F.col("hi_date").cast("date"), F.lit(_ZM_EPOCH).cast("date"))
        .cast("long")
        .alias("p_hi"),
    )
    match = (
        li.join(
            F.broadcast(probes),
            (F.col("day") >= F.col("p_lo")) & (F.col("day") <= F.col("p_hi")),
        )
        .groupBy("probe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_match"))
    )
    overlap = (F.col("zmin") <= F.col("p_hi")) & (F.col("zmax") >= F.col("p_lo"))
    return _pruning_report(rows_b, probes, match, overlap)


@register(
    "window_fulfillment_latency_percentiles",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority,
             CAST(MIN(CAST(l.l_shipdate AS DATE)) - CAST(o.o_orderdate AS DATE)
                  AS BIGINT) AS days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           n_orders,
           q[1] AS p50_days, q[2] AS p90_days, q[3] AS p99_days,
           mean_days
    FROM (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             quantile_cont(days, [0.5, 0.9, 0.99]) AS q,
             CAST(SUM(days) AS DOUBLE) / COUNT(*) AS mean_days
      FROM lat
      GROUP BY o_orderpriority
    )
    """,
)
def window_fulfillment_latency_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """W14/A8 EXT: ORDER-FULFILLMENT latency distribution — per order
    priority: exact p50/p90/p99 and mean of the days between order
    placement and the FIRST line shipment. The SLA report an
    operations team reads weekly: the p99 is what the "URGENT means
    urgent" claim is tested against, and the priority axis shows
    whether the priority field buys any latency at all. First-ship
    (MIN over an order's lines) is the customer-visible event; A58's
    backlog timeseries counts open orders, this prices how long each
    one stayed open.

    Exactness: latency is an exact integer day difference on the
    order-grain MIN; ``percentile`` (Spark) and ``quantile_cont``
    (DuckDB) interpolate the same order statistics of the same
    integers (the A8 convention); the mean is an exact int64 sum over
    one IEEE divide.

    Scale shape: one lineitem-orders equi-join on the uniform order
    key aggregated to O(orders) (map-side combine on the MIN), then a
    5-group exact percentile — the only sort is per-priority over the
    already-reduced order-grain relation. At 100 TB the exact
    percentile swaps for the registered t-digest twin discipline; the
    exact form carries the oracle row.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            "o_orderpriority",
            F.datediff(
                F.col("first_ship").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("long")
            .alias("days"),
        )
    )
    q = F.expr("percentile(days, array(0.5D, 0.9D, 0.99D))")
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            q.alias("q"),
            (F.sum("days").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "mean_days"
            ),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.col("q")[0].alias("p50_days"),
            F.col("q")[1].alias("p90_days"),
            F.col("q")[2].alias("p99_days"),
            "mean_days",
        )
    )


#: Compaction-plan geometry: source "files" are the table's natural
#: small-write grain (one per ship month), packed into stripes of this
#: many rows — the OPTIMIZE target size in row units.
_COMPACT_TARGET_ROWS = 8192


@register(
    "layout_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS mon, COUNT(*) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    planned AS (
      SELECT mon, n_rows,
             (SUM(n_rows) OVER (ORDER BY mon
                ROWS UNBOUNDED PRECEDING) - n_rows)
               // {_COMPACT_TARGET_ROWS} AS out_file
      FROM files
    )
    SELECT CAST(out_file AS BIGINT) AS out_file,
           CAST(COUNT(*) AS BIGINT) AS n_source_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           MIN(mon) AS first_month,
           MAX(mon) AS last_month
    FROM planned
    GROUP BY out_file
    ORDER BY out_file
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17/F120 EXT: small-file COMPACTION plan — the OPTIMIZE planner:
    treat each ship-month of lineitem as one small written file (the
    natural incremental-ingest grain), and pack the month files, in
    key order, into output stripes of ~8192 rows
    (first-fit in sequence: a file starts a new output exactly when
    the rows before it fill the current target). Per planned output:
    source files merged, rows, and the key range it covers — the key
    ranges stay disjoint and ordered BECAUSE packing follows key
    order, which is precisely what keeps the F120 zone maps prunable
    after compaction (an unordered bin-packer would shuffle months
    into overlapping zones and undo the sort layout's pruning). The
    n_source_files column is the small-file-reduction ledger.

    Exactness: month keys are formatted strings, row counts exact
    int64, the stripe id an integer floor division of an exact
    running sum on a total order (month strings sort uniquely) —
    bitwise everything.

    Scale shape: one 1-column scan to O(months) file stats
    (map-side combine); the plan itself is a window over that tiny
    relation (the global sort touches file-count rows, never the
    table). The plan is the cheap part of OPTIMIZE by design — the
    rewrite it prescribes is the expensive part, and this query is
    how that rewrite is sized before it runs.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM").alias("mon")
    )
    files = li.groupBy("mon").agg(F.count(F.lit(1)).alias("n_rows"))
    w = Window.orderBy("mon").rowsBetween(Window.unboundedPreceding, 0)
    planned = files.select(
        "mon",
        "n_rows",
        F.floor(
            (F.sum("n_rows").over(w) - F.col("n_rows"))
            / _COMPACT_TARGET_ROWS
        ).alias("out_file"),
    )
    return (
        planned.groupBy("out_file")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_source_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("mon").alias("first_month"),
            F.max("mon").alias("last_month"),
        )
        .orderBy("out_file")
    )


@register(
    "agg_return_rate_ztest",
    oracle="""
    WITH j AS (
      SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS promo,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    g AS (
      SELECT CAST(SUM(CASE WHEN promo = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN promo = 1 THEN ret ELSE 0 END) AS BIGINT) AS r1,
             CAST(SUM(CASE WHEN promo = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN promo = 0 THEN ret ELSE 0 END) AS BIGINT) AS r2
      FROM j
    )
    SELECT n1 AS n_promo, r1 AS n_promo_returned,
           n2 AS n_other, r2 AS n_other_returned,
           CAST(r1 AS DOUBLE) / n1 AS rate_promo,
           CAST(r2 AS DOUBLE) / n2 AS rate_other,
           CAST(r1 + r2 AS DOUBLE) / (n1 + n2) AS rate_pooled,
           (CAST(r1 AS DOUBLE) / n1 - CAST(r2 AS DOUBLE) / n2)
             / sqrt((CAST(r1 + r2 AS DOUBLE) / (n1 + n2))
                    * (1.0 - CAST(r1 + r2 AS DOUBLE) / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)) AS z_stat
    FROM g
    """,
)
def agg_return_rate_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A65: TWO-PROPORTION Z-TEST — the A/B-test primitive the engine
    lacked: is the return rate of PROMO parts different from the rest?
    One row: both groups' counts and rates, the pooled rate, and the
    pooled two-proportion z statistic — the number an experimentation
    readout thresholds against ±1.96. The engine's report family
    DESCRIBES differences (lift, drift, correlation); this is the
    first operator that says whether a difference clears noise, which
    is what decides a rollout.

    Exactness: all four sufficient statistics are exact int64 counts
    from one scan; every rate and the z statistic are a fixed IEEE
    chain on those identical integers — bitwise cross-engine. (The
    z-test's normal approximation is the statistic's own contract;
    the query computes it exactly.)

    Scale shape: one lineitem-part equi-join on the uniform part key
    (the part side prunes to 2 columns and broadcasts when small)
    reduced by ONE map-side-combinable aggregate to a single row.
    Nothing downstream of the agg touches the corpus.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0).alias(
            "promo"
        ),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    g = j.agg(
        F.sum(F.when(F.col("promo") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("promo") == 1, F.col("ret")).otherwise(0))
        .cast("long")
        .alias("r1"),
        F.sum(F.when(F.col("promo") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("promo") == 0, F.col("ret")).otherwise(0))
        .cast("long")
        .alias("r2"),
    )
    p1 = F.col("r1").cast("double") / F.col("n1").cast("double")
    p2 = F.col("r2").cast("double") / F.col("n2").cast("double")
    pp = (F.col("r1") + F.col("r2")).cast("double") / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    z = (p1 - p2) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n1").cast("double")
            + F.lit(1.0) / F.col("n2").cast("double")
        )
    )
    return g.select(
        F.col("n1").alias("n_promo"),
        F.col("r1").alias("n_promo_returned"),
        F.col("n2").alias("n_other"),
        F.col("r2").alias("n_other_returned"),
        p1.alias("rate_promo"),
        p2.alias("rate_other"),
        pp.alias("rate_pooled"),
        z.alias("z_stat"),
    )


#: Neyman-allocation sample budget (total units drawn across strata).
_NEYMAN_BUDGET = 1000


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH spend AS (
      SELECT c.c_nationkey,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             SUM(CAST(cents AS HUGEINT)) AS sx,
             SUM(CAST(cents AS HUGEINT) * cents) AS sxx
      FROM spend GROUP BY c_nationkey
    ),
    sd AS (
      SELECT c_nationkey, n_h,
             sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE)) / n_h / 100 AS sd_price
      FROM m
    ),
    w AS (
      SELECT n.n_name AS nation, s.n_h, s.sd_price,
             CAST(floor(s.n_h * s.sd_price * 1000000) AS HUGEINT) AS wt,
             SUM(CAST(floor(s.n_h * s.sd_price * 1000000) AS HUGEINT))
               OVER () AS wt_sum
      FROM sd s JOIN nation n ON n.n_nationkey = s.c_nationkey
    ),
    fr AS (
      SELECT nation, n_h, sd_price,
             {_NEYMAN_BUDGET} * CAST(wt AS DOUBLE) / CAST(wt_sum AS DOUBLE)
               AS alloc_exact,
             CAST(floor({_NEYMAN_BUDGET} * CAST(wt AS DOUBLE)
                        / CAST(wt_sum AS DOUBLE)) AS BIGINT) AS fl,
             {_NEYMAN_BUDGET} * CAST(wt AS DOUBLE) / CAST(wt_sum AS DOUBLE)
               - floor({_NEYMAN_BUDGET} * CAST(wt AS DOUBLE)
                       / CAST(wt_sum AS DOUBLE)) AS frac
      FROM w
    ),
    rk AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY frac DESC, nation) AS rnk,
             {_NEYMAN_BUDGET} - SUM(fl) OVER () AS leftover
      FROM fr
    )
    SELECT nation, n_h AS n_orders, sd_price, alloc_exact,
           CAST(fl + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM rk
    ORDER BY nation
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8: NEYMAN optimal stratified allocation — the survey-sampling
    planner that completes the sampling family (uniform O4, reservoir
    F53, weighted F54, PPS O6, proportional-stratified F36): split a
    1000-draw budget across nation strata proportional to N_h·S_h
    (stratum size × stratum standard deviation of order value), the
    allocation that minimizes the estimator's variance for a fixed
    budget. High-variance strata earn more than their population
    share — the difference between this and F36's proportional split
    IS the variance reduction. Integerization is largest-remainder
    (floor + distribute the leftover by descending fractional part,
    nation-name tie-break), so the allocations are deterministic and
    sum exactly to the budget (conservation is test-pinned).

    Exactness: per-stratum moments are exact integer cents sums
    (HUGEINT / DECIMAL(38,0)); sd = one sqrt of the cleared-
    denominator identity n·Σx² − (Σx)²; weights QUANTIZE to integer
    micro-units before the cross-stratum sum (a float sum over
    strata rounds differently per engine — the micro-nat
    discipline), so fractions and the remainder ranking are fixed
    IEEE chains on identical inputs with a total-order tie-break.

    Scale shape: one orders scan → O(strata) moment agg (map-side
    combine); everything after runs on ≤25 rows (the window sorts
    strata, never orders). The plan this query emits is what a
    distributed stratified sampler then executes with per-stratum
    Bernoulli rates — the planning half is O(strata) by design.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    spend = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey",
        (dec("o_totalprice") * 100).cast("long").alias("cents"),
    )
    m = spend.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)")).alias(
            "sxx"
        ),
    )
    sd = m.select(
        "c_nationkey",
        "n_h",
        (
            F.sqrt(
                (F.col("n_h") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
            )
            / F.col("n_h").cast("double")
            / 100
        ).alias("sd_price"),
    )
    w = sd.join(F.broadcast(n), sd.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        "n_h",
        "sd_price",
        # micro-unit quantization makes the weight SUM order-independent
        # (a float sum over strata would round differently per engine)
        F.floor(F.col("n_h").cast("double") * F.col("sd_price") * 1000000)
        .cast("decimal(38,0)")
        .alias("wt"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    fr = w.select(
        "nation",
        "n_h",
        "sd_price",
        (
            F.lit(float(_NEYMAN_BUDGET))
            * F.col("wt").cast("double")
            / F.sum("wt").over(w_all).cast("double")
        ).alias("alloc_exact"),
    ).select(
        "nation",
        "n_h",
        "sd_price",
        "alloc_exact",
        F.floor("alloc_exact").cast("long").alias("fl"),
        (F.col("alloc_exact") - F.floor("alloc_exact")).alias("frac"),
    )
    w_rk = Window.orderBy(F.col("frac").desc(), F.col("nation"))
    rk = fr.select(
        "nation",
        "n_h",
        "sd_price",
        "alloc_exact",
        "fl",
        F.row_number().over(w_rk).alias("rnk"),
        (F.lit(_NEYMAN_BUDGET) - F.sum("fl").over(w_all)).alias("leftover"),
    )
    return rk.select(
        "nation",
        F.col("n_h").alias("n_orders"),
        "sd_price",
        "alloc_exact",
        (
            F.col("fl")
            + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# Round-16 batch 1: nonparametric two-sample statistics (rank family).
# The engine's experimentation readouts gain the distribution-free
# complements of the z-test (A65): Mann-Whitney U, Kolmogorov-Smirnov,
# and Spearman rank correlation — all computed from exact integer
# sufficient statistics over the DISTINCT-VALUE relation, never a
# per-row global sort.
# ---------------------------------------------------------------------------

#: Bucket width for the distributed prefix scan over distinct cents
#: values (the stream_watermark_late_audit two-level pattern).
_RANK_BUCKET = 1 << 20


def _prefix_sums(
    df: DataFrame,
    key: str,
    vals: list[tuple[str, str, bool]],
) -> DataFrame:
    """Distributed prefix sums over ``key`` order — the two-level
    bucketed scan (stream_watermark_late_audit pattern): within-bucket
    running sums parallelize per bucket, the O(n/_RANK_BUCKET)
    bucket-summary relation takes the only global window, and the two
    recombine with one broadcast join — no stage ever sorts the full
    relation on one core. ``vals`` is a list of (value_col, out_col,
    inclusive); ``key`` must be distinct per row (a grouped-by-value
    relation).

    Callers should ``pin()`` the input first: it is
    consumed by multiple downstream branches (in-bucket scan, bucket
    summary, the caller's totals), and without lineage truncation each
    branch re-derives it from the CORPUS scan — 4 full table reads for
    one statistic. Checkpointing materializes the tiny domain-bounded
    relation once, so the 100 TB scan happens exactly once (the
    iterative-CC discipline applied to a reduction)."""
    b = df.withColumn("_bkt", F.floor(F.col(key) / _RANK_BUCKET))
    out = b
    w_excl = (
        Window.partitionBy("_bkt")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_incl = (
        Window.partitionBy("_bkt")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for val, name, inclusive in vals:
        out = out.withColumn(
            f"_in_{name}", F.sum(val).over(w_incl if inclusive else w_excl)
        )
    bsum = b.groupBy("_bkt").agg(
        *[F.sum(val).alias(f"_bs_{name}") for val, name, _ in vals]
    )
    w_b = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    bpre = bsum.select(
        "_bkt",
        *[
            F.sum(f"_bs_{name}").over(w_b).alias(f"_pre_{name}")
            for _, name, _ in vals
        ],
    )
    out = out.join(F.broadcast(bpre), "_bkt")
    for _, name, _ in vals:
        out = out.withColumn(
            name,
            F.coalesce(f"_in_{name}", F.lit(0))
            + F.coalesce(f"_pre_{name}", F.lit(0)),
        ).drop(f"_in_{name}", f"_pre_{name}")
    return out.drop("_bkt")


#: ``v(cents, g)``: every order's value in cents, ``g`` = 1 for URGENT.
_SQL_URGENT_CENTS = """v AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
      FROM orders
    )"""
#: Over ``v(cents, g)``: the two groups' counts per distinct value
#: (``dv``), their running totals (``cum(cents, f1, f2)``) and sizes
#: (``n(n1, n2)``), shared by the two-sample tests.
_SQL_TWO_SAMPLE_CDF = """dv AS (
      SELECT cents, CAST(SUM(g) AS BIGINT) AS c1,
             CAST(COUNT(*) - SUM(g) AS BIGINT) AS c2
      FROM v GROUP BY cents
    ),
    cum AS (
      SELECT cents,
             SUM(c1) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
             SUM(c2) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
      FROM dv
    ),
    n AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM dv
    )"""


@register(
    "agg_mann_whitney_u",
    oracle=f"""
    WITH {_SQL_URGENT_CENTS},
    dv AS (
      SELECT cents, CAST(SUM(g) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY cents
    ),
    rk AS (
      SELECT cents, c1, c,
             COALESCE(SUM(c) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM dv
    ),
    s AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c - c1) AS BIGINT) AS n2,
             SUM(CAST(c1 AS HUGEINT) * (2 * cb + c + 1)) AS r1x2,
             SUM(CAST(c AS HUGEINT) * c * c - c) AS tie3
      FROM rk
    )
    SELECT n1 AS n_urgent, n2 AS n_other,
           CAST(CAST(r1x2 - n1 * (n1 + 1) AS VARCHAR) AS DOUBLE) / 2
             AS u_stat,
           (CAST(CAST(r1x2 - n1 * (n1 + 1) AS VARCHAR) AS DOUBLE) / 2
              - CAST(n1 AS DOUBLE) * n2 / 2)
           / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                  * ((n1 + n2 + 1)
                     - CAST(CAST(tie3 AS VARCHAR) AS DOUBLE)
                       / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))
             AS z_stat,
           2.0 * (CAST(CAST(r1x2 - n1 * (n1 + 1) AS VARCHAR) AS DOUBLE) / 2)
             / (CAST(n1 AS DOUBLE) * n2) - 1.0 AS rank_biserial
    FROM s
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A66: MANN-WHITNEY U (Wilcoxon rank-sum) — the distribution-free
    complement of the two-proportion z-test (A65): do URGENT orders
    carry stochastically larger totals than the rest? Emits U, the
    tie-corrected normal z, and the rank-biserial effect size — the
    readout an experimenter trusts when order values are heavy-tailed
    and a means test (t/z) would be driven by whales.

    Exactness: average ranks with ties are HALF-integers, so the rank
    sum is kept in exact DOUBLED units (rank_x2 = 2·cum_before +
    tie_count + 1); the rank-sum accumulator Σc1·rank_x2 scales as
    ~0.4·N² — past int64 at the 100× probe — so it accumulates in
    decimal(38,0)/HUGEINT like the tie-correction Σ(t³−t), and both
    enter the IEEE chain through the VARCHAR hop on the oracle side
    (DuckDB's direct HUGEINT→DOUBLE cast mis-rounds above 2^53);
    U, z, and the effect size are one fixed IEEE chain on those
    identical integers.

    Scale shape: one orders scan → hash agg on DISTINCT cents (domain-
    bounded: prices have 2 decimals and a bounded range, so the
    distinct relation does NOT grow with corpus rows); the rank scan
    over it is the two-level bucketed prefix sum (`_prefix_sums`) —
    within-bucket windows parallelize, only the O(domain/2^20) bucket
    summary sees a global window — then ONE 1-row reduce. No per-row
    sort anywhere.
    """
    v = _t(spark, sf_dir, "orders").select(
        (dec("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g"),
    )
    # one corpus scan feeds all downstream branches
    dv = pin(
        v.groupBy("cents").agg(
            F.sum("g").cast("long").alias("c1"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
    )
    rk = _prefix_sums(dv, "cents", [("c", "cb", False)])
    s = rk.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("long").alias("n2"),
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * F.col("cb") + F.col("c") + 1)
        ).alias("r1x2"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("tie3"),
    )
    n1d = F.col("n1").cast("double")
    u = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).cast(
        "double"
    ) / F.lit(2)
    mean_u = n1d * F.col("n2") / F.lit(2)
    var_u = (
        n1d
        * F.col("n2")
        / F.lit(12)
        * (
            (F.col("n1") + F.col("n2") + 1)
            - F.col("tie3").cast("double")
            / (
                (F.col("n1") + F.col("n2")).cast("double")
                * (F.col("n1") + F.col("n2") - 1)
            )
        )
    )
    return s.select(
        F.col("n1").alias("n_urgent"),
        F.col("n2").alias("n_other"),
        u.alias("u_stat"),
        ((u - mean_u) / F.sqrt(var_u)).alias("z_stat"),
        (F.lit(2.0) * u / (n1d * F.col("n2")) - F.lit(1.0)).alias(
            "rank_biserial"
        ),
    )


@register(
    "agg_ks_two_sample",
    oracle=f"""
    WITH v AS (
      SELECT CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    {_SQL_TWO_SAMPLE_CDF},
    gap AS (
      SELECT cents, abs(f1 * n.n2 - f2 * n.n1) AS num
      FROM cum CROSS JOIN n
    ),
    mx AS (SELECT MAX(num) AS mnum FROM gap)
    SELECT n.n1 AS n_building, n.n2 AS n_machinery,
           CAST(CAST(mx.mnum AS VARCHAR) AS DOUBLE)
             / (CAST(n.n1 AS DOUBLE) * n.n2) AS ks_stat,
           CAST((SELECT MIN(cents) FROM gap WHERE num = mx.mnum)
                AS BIGINT) AS ks_at_cents,
           sqrt(CAST(n.n1 AS DOUBLE) * n.n2 / (n.n1 + n.n2))
             * (CAST(CAST(mx.mnum AS VARCHAR) AS DOUBLE)
                / (CAST(n.n1 AS DOUBLE) * n.n2))
             AS ks_scaled
    FROM n CROSS JOIN mx
    """,
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A67: two-sample KOLMOGOROV-SMIRNOV — the whole-distribution
    test the rank-sum can't give: the maximum CDF gap between BUILDING
    and MACHINERY customers' order totals, its location, and the
    sample-size-scaled statistic sqrt(n1·n2/(n1+n2))·D that a KS table
    thresholds. Where A66 detects a location shift, this detects ANY
    distributional difference (shape, spread, tails).

    Exactness: the CDF gap at every distinct value is the EXACT
    integer |F1·n2 − F2·n1| (cumulative counts cross-multiplied — no
    per-step divide to accumulate error); the cross-multiply widens
    to decimal(38,0)/HUGEINT (n1·n2 brushes 2^63 at the 100× probe),
    and the oracle reads the max into the IEEE chain via the VARCHAR
    hop; the max and its argmin location are integer comparisons; D
    and the scaled statistic are one fixed IEEE chain at the very end.

    Scale shape: scan → hash agg on distinct cents (domain-bounded,
    not corpus-proportional) → the two cumulative counts ride ONE
    two-level bucketed prefix scan (`_prefix_sums`, both sums in the
    same pass) → a 1-row max reduce and a broadcast argmax lookup.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            (dec("o_totalprice") * 100).cast("long").alias("cents"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .otherwise(0)
            .alias("g"),
        )
    )
    # one corpus scan feeds all downstream branches
    dv = pin(
        v.groupBy("cents").agg(
            F.sum("g").cast("long").alias("c1"),
            (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("c2"),
        )
    )
    cum = _prefix_sums(dv, "cents", [("c1", "f1", True), ("c2", "f2", True)])
    n = dv.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    gap = cum.crossJoin(F.broadcast(n)).select(
        "cents",
        F.abs(
            F.col("f1").cast("decimal(38,0)") * F.col("n2")
            - F.col("f2").cast("decimal(38,0)") * F.col("n1")
        ).alias("num"),
    )
    mx = gap.agg(F.max("num").alias("mnum"))
    at = (
        gap.join(F.broadcast(mx), gap.num == mx.mnum)
        .agg(F.min("cents").alias("ks_at_cents"))
    )
    n1d = F.col("n1").cast("double")
    d_stat = F.col("mnum").cast("double") / (n1d * F.col("n2"))
    return (
        n.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            F.col("n1").alias("n_building"),
            F.col("n2").alias("n_machinery"),
            d_stat.alias("ks_stat"),
            F.col("ks_at_cents").cast("long").alias("ks_at_cents"),
            (
                F.sqrt(n1d * F.col("n2") / (F.col("n1") + F.col("n2")))
                * d_stat
            ).alias("ks_scaled"),
        )
    )


@register(
    "agg_spearman_daily_correlation",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS rev,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    rx AS (
      SELECT rev, 2 * COALESCE(SUM(c) OVER (ORDER BY rev
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r_x2
      FROM (SELECT rev, CAST(COUNT(*) AS BIGINT) AS c
            FROM daily GROUP BY rev)
    ),
    ry AS (
      SELECT cnt, 2 * COALESCE(SUM(c) OVER (ORDER BY cnt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r_y2
      FROM (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS c
            FROM daily GROUP BY cnt)
    ),
    ranked AS (
      SELECT rx.r_x2 AS x, ry.r_y2 AS y
      FROM daily JOIN rx USING (rev) JOIN ry USING (cnt)
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM ranked
    )
    SELECT n AS n_days,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) AS spearman_rho
    FROM s
    """,
)
def agg_spearman_daily_correlation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A70: SPEARMAN rank correlation between daily revenue and daily
    order count — the robust twin of the Pearson daily correlation
    (A20): rank both series (average ranks for ties), then Pearson on
    the ranks. Outliers (one whale day) that dominate A20's product-
    moment estimate move Spearman by exactly one rank step — the pair
    of numbers together says whether a relationship is monotone or
    merely driven by extremes.

    Exactness: average ranks are half-integers kept in exact DOUBLED
    units (2·cum_before + ties + 1); every sufficient statistic is an
    int64 sum of rank products (ranks ≤ 2·n_days and the day axis is
    FIXED by the date domain, so n·Σxy stays far under 2^63 at any
    corpus scale); rho is one fixed IEEE chain.

    Scale shape: orders scan → O(days) hash agg (map-side combine) —
    the date domain bounds everything downstream; ranking windows and
    the final reduce touch only the O(days) relation. A global window
    over ≤ a few thousand rows is deliberate (the skyline O7
    discipline), not a scale hazard.
    """
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(dec("o_totalprice") * 100).cast("long").alias("rev"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
    )
    def _rank2(df: DataFrame, col: str, out: str) -> DataFrame:
        grouped = df.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return grouped.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).alias(out),
        )
    ranked = (
        daily.join(_rank2(daily, "rev", "x"), "rev")
        .join(_rank2(daily, "cnt", "y"), "cnt")
        .select("x", "y")
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_days"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(
                (
                    F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
                ).cast("double")
                * (
                    F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
                ).cast("double")
            )
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Round-16 batch 2: resampling + experimentation statistics (Poisson
# bootstrap, CUPED, chi-square, ANOVA) — exact-integer sufficient
# statistics, deterministic hash-derived randomness, micro-quantized
# cross-group sums where a float Σ would be order-dependent.
# ---------------------------------------------------------------------------

#: Replicate count for the Poisson bootstrap and the nearest-rank CI
#: cut points ceil(0.05·R) / ceil(0.95·R).
_BOOT_R = 32
_BOOT_LO = 2
_BOOT_HI = 31

#: Cumulative Poisson(1) pmf thresholds: weight = #thresholds below u.
#: Shared double literals, so the comparison chain is identical in
#: both engines (u itself is an exact division by 2^32).
_POIS1_CUM = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.9999167588507119",
)

#: First-8-hex-chars-of-md5 as a 32-bit integer (the llm_ops KMV
#: polynomial, restated here for the relational family).
_SQL_HEX32_EXT = (
    "list_aggregate(list_transform(range(1, 9), i -> "
    "CAST(strpos('0123456789abcdef', substr({h}, CAST(i AS INTEGER), 1)) - 1 "
    "AS BIGINT) * CAST(power(16, 8 - i) AS BIGINT)), 'sum')"
)


def _sql_pois1(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {i}" for i, t in enumerate(_POIS1_CUM)
    )
    return f"CASE {cases} ELSE {len(_POIS1_CUM)} END"


def _pois1_col(u) -> "F.Column":
    w = F.lit(len(_POIS1_CUM))
    for i, t in reversed(list(enumerate(_POIS1_CUM))):
        w = F.when(u < float(t), F.lit(i)).otherwise(w)
    return w


@register(
    "agg_poisson_bootstrap_ci",
    oracle=f"""
    WITH base AS (
      SELECT r.r_name AS region, o.o_orderkey,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    reps AS (
      -- one md5 yields FOUR independent 32-bit uniforms (8-hex-char
      -- windows of the 128-bit digest): 8 hashes per row cover all 32
      -- replicates instead of 32 hashes
      SELECT region, cents, g.g * 4 + j.j AS rep,
             {_SQL_HEX32_EXT.format(
                 h="substr(md5(CAST(o_orderkey AS VARCHAR) || ':' "
                   "|| CAST(g.g AS VARCHAR)), 1 + 8 * CAST(j.j AS INTEGER)"
                   ", 8)")}
               / 4294967296.0 AS u
      FROM base
      CROSS JOIN (SELECT unnest(range({_BOOT_R // 4})) AS g) g
      CROSS JOIN (SELECT unnest(range(4)) AS j) j
    ),
    rmeans AS (
      SELECT region, rep,
             CAST(SUM({_sql_pois1("u")} * cents) AS DOUBLE)
               / SUM({_sql_pois1("u")}) AS m
      FROM reps GROUP BY region, rep
    ),
    rr AS (
      SELECT region, m,
             ROW_NUMBER() OVER (PARTITION BY region ORDER BY m, rep) AS rn
      FROM rmeans
    ),
    pt AS (
      SELECT region, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100 AS mean_value
      FROM base GROUP BY region
    )
    SELECT pt.region, pt.n_orders, pt.mean_value,
           MAX(CASE WHEN rn = {_BOOT_LO} THEN m END) / 100 AS ci_lo,
           MAX(CASE WHEN rn = {_BOOT_HI} THEN m END) / 100 AS ci_hi,
           CAST({_BOOT_R} AS BIGINT) AS n_replicates
    FROM pt JOIN rr USING (region)
    GROUP BY pt.region, pt.n_orders, pt.mean_value
    """,
)
def agg_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A68: POISSON BOOTSTRAP confidence intervals — per region, a 90%
    CI for the mean order value WITHOUT resampling shuffles: each row's
    weight in replicate r is Poisson(1)-distributed via the inverse CDF
    on a hash-derived uniform (replicate 4g+j reads the j-th 8-hex-char
    window of md5(orderkey:g) — one digest yields four independent
    32-bit uniforms, so 8 hashes per row cover all {_BOOT_R}
    replicates), and all replicates compute in ONE scan as a weighted
    group-by. This is the standard trick for CIs at data-parallel scale
    (per-replicate multinomial resampling is a shuffle; Poissonization
    makes weights row-independent) — and hash-derived u makes it fully
    DETERMINISTIC, hence oracle-checkable cross-engine.

    Exactness: u is an exact division of the md5-hex32 integer by
    2^32; the Poisson inverse CDF is a fixed literal threshold chain;
    per-replicate means are exact int64 weighted sums with one IEEE
    divide; the nearest-rank CI cut (ranks {_BOOT_LO}/{_BOOT_HI} of
    {_BOOT_R}) orders identical doubles with a rep tiebreak.

    Scale shape: the replicate axis explodes the scan {_BOOT_R}× into
    a map-side-combinable (region, rep) agg — the fan-out is the
    technique's documented cost and it replaces {_BOOT_R} full
    resample+shuffle passes; everything after the agg is O(regions ×
    replicates). No driver-side loop, no RNG state.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            "o_orderkey",
            (dec("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    # one md5 per (order, hash-group g) yields four 8-hex-char windows —
    # 8 digests cover all 32 replicates. TWO-LEVEL explode on purpose:
    # each Generate is a projection-collapse boundary, so the 8 digests
    # evaluate once per order (first explode materializes `digest`),
    # the 4 window-convs evaluate once per digest (second explode
    # materializes `u`), and the Poisson CASE chain (7 references to u)
    # reads an attribute. A single 32-struct array re-evaluated md5 per
    # struct and the CASE re-evaluated conv per branch — measured 6×
    # this plan's cost.
    digs = F.array(
        *[
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"), F.lit(f":{g}")
                )
            )
            for g in range(_BOOT_R // 4)
        ]
    )
    # r18 (VERDICT #6, guide §2.6): the 8-digest × 4-window fan-out is
    # pure per-row CPU that runs in the SCAN stage — its parallelism is
    # the orders parquet split count (ONE split at bench SF), which is
    # why the query was the slowest in the tier and sped up only 1.15×
    # from 8→32 cores. Fan the narrow (region, orderkey, cents) rows
    # out to cluster width first: one cheap shuffle of the pre-explode
    # rows buys full-width md5/conv execution; a no-op once the scan is
    # wide (100 TB arrives in thousands of splits).
    s1 = fan_out_if_narrow(base).select(
        "region", "cents", F.posexplode(digs).alias("g", "digest")
    )
    windows = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    F.conv(
                        F.substring(F.col("digest"), 1 + 8 * j, 8), 16, 10
                    ).cast("long")
                    / F.lit(4294967296.0)
                ).alias("u"),
            )
            for j in range(4)
        ]
    )
    reps = s1.select(
        "region", "cents", "g", F.explode(windows).alias("rw")
    ).select(
        "region",
        "cents",
        (F.col("g") * 4 + F.col("rw.j")).cast("long").alias("rep"),
        _pois1_col(F.col("rw.u")).alias("w"),
    )
    # Every order contributes exactly one row to each replicate, so each
    # (region, rep) group already knows the region's exact order count
    # and cents total — the point estimates ride along in the replicate
    # agg and the second base scan (orders⋈customer re-join + region
    # agg) disappears. sum/count here equal the original per-region
    # values bit-for-bit; the mean divides in the same order.
    rmeans = reps.groupBy("region", "rep").agg(
        (
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.sum("w")
        ).alias("m"),
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("cents").cast("long").alias("s0"),
    )
    w_rn = Window.partitionBy("region").orderBy("m", "rep")
    rr = rmeans.select(
        "region", "m", "n0", "s0", F.row_number().over(w_rn).alias("rn")
    )
    return (
        rr.groupBy("region")
        .agg(
            F.max("n0").alias("n_orders"),
            (
                F.max("s0").cast("double") / F.max("n0") / F.lit(100)
            ).alias("mean_value"),
            (
                F.max(F.when(F.col("rn") == _BOOT_LO, F.col("m")))
                / F.lit(100)
            ).alias("ci_lo"),
            (
                F.max(F.when(F.col("rn") == _BOOT_HI, F.col("m")))
                / F.lit(100)
            ).alias("ci_hi"),
        )
        .select(
            "region",
            "n_orders",
            "mean_value",
            "ci_lo",
            "ci_hi",
            F.lit(_BOOT_R).cast("long").alias("n_replicates"),
        )
    )


#: CUPED period split: orders before this date are the pre-experiment
#: covariate X; orders at/after are the metric Y.
_CUPED_SPLIT = "1996-01-01"


@register(
    "agg_cuped_adjusted_metric",
    oracle=f"""
    WITH cust AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(SUM(CASE WHEN o.o_orderdate < TIMESTAMP '{_CUPED_SPLIT}'
                           THEN CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN o.o_orderdate >= TIMESTAMP '{_CUPED_SPLIT}'
                           THEN CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                           ELSE 0 END) AS BIGINT) AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    s AS (
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM cust GROUP BY segment
    ),
    s2 AS (
      SELECT segment, n,
             -- VARCHAR-hop double casts: DuckDB's direct HUGEINT->DOUBLE
             -- is not correctly rounded for >2^53 magnitudes; strtod is,
             -- matching Spark's (correctly rounded) decimal->double
             CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) AS covn,
             CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE) AS varxn,
             CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE) AS varyn
      FROM s
    )
    SELECT segment, n AS n_customers,
           covn / varxn AS theta,
           varyn / (CAST(n AS DOUBLE) * n) / 10000 AS var_y,
           (varyn / (CAST(n AS DOUBLE) * n) / 10000)
             * (1.0 - (covn * covn) / (varxn * varyn)) AS var_y_adjusted,
           (covn * covn) / (varxn * varyn) AS var_reduction
    FROM s2
    ORDER BY segment
    """,
)
def agg_cuped_adjusted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A69: CUPED variance reduction — the experimentation-platform
    workhorse (Deng et al. 2013): regress each customer's in-period
    spend Y on their PRE-period spend X (split at {_CUPED_SPLIT}),
    and report per segment the adjustment coefficient θ =
    cov(X,Y)/var(X), the raw metric variance, the CUPED-adjusted
    variance var(Y−θX) = var(Y)·(1−ρ²), and the reduction share ρ² —
    the factor by which an A/B test on this metric shrinks its CI
    (equivalently: how much smaller the experiment can be).

    Exactness: per-customer X/Y are exact integer cents; all five
    moment sums accumulate in decimal(38,0)/HUGEINT (x·y products
    overflow int64 at the 100× probe); θ, the variances, and ρ² are
    one fixed IEEE chain on those identical integers.

    Scale shape: orders⋈customer → ONE per-customer conditional agg
    (map-side combine) → O(segments) moment agg. Nothing after the
    first agg is corpus-proportional; no window, no sort.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderdate") < split, dec("o_totalprice") * 100
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    F.col("o_orderdate") >= split, dec("o_totalprice") * 100
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("y"),
        )
    )
    d38 = "decimal(38,0)"
    s = cust.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"),
    )
    covn = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    varxn = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    varyn = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    var_y = varyn / (F.col("n").cast("double") * F.col("n")) / F.lit(10000)
    rho2 = (covn * covn) / (varxn * varyn)
    return s.select(
        "segment",
        F.col("n").alias("n_customers"),
        (covn / varxn).alias("theta"),
        var_y.alias("var_y"),
        (var_y * (F.lit(1.0) - rho2)).alias("var_y_adjusted"),
        rho2.alias("var_reduction"),
    ).orderBy("segment")


@register(
    "agg_chi_square_independence",
    oracle="""
    WITH j AS (
      SELECT o.o_orderpriority AS pri, c.c_mktsegment AS seg
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cell AS (
      SELECT pri, seg, CAST(COUNT(*) AS BIGINT) AS obs FROM j GROUP BY 1, 2
    ),
    rt AS (SELECT pri, CAST(SUM(obs) AS BIGINT) AS rtot FROM cell GROUP BY pri),
    ct AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS ctot FROM cell GROUP BY seg),
    nn AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cell),
    terms AS (
      SELECT CAST(floor(CAST(obs AS DOUBLE) * obs * nn.n
                   / (CAST(rtot AS DOUBLE) * ctot) * 1000000) AS BIGINT) AS tm
      FROM cell JOIN rt USING (pri) JOIN ct USING (seg) CROSS JOIN nn
    )
    SELECT nn.n AS n_total,
           CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS n_priorities,
           CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS n_segments,
           CAST(((SELECT COUNT(*) FROM rt) - 1)
                * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof,
           CAST((SELECT SUM(tm) FROM terms) AS DOUBLE) / 1000000 - nn.n
             AS chi2_stat
    FROM nn
    """,
)
def agg_chi_square_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A71: CHI-SQUARE test of independence — is order priority
    independent of customer market segment? The categorical
    counterpart of the z-test/U-test pair: one statistic over the
    priority × segment contingency table, with its degrees of
    freedom, via the identity χ² = Σ O²·n/(R·C) − n (algebraically
    equal to Σ(O−E)²/E but computable from integer margins without
    materializing E per cell).

    Exactness: all counts and margins are exact int64 from one scan;
    each cell's term is a fixed IEEE chain on those integers,
    MICRO-QUANTIZED (floor ×1e6 → int64) before the cross-cell sum so
    the Σ is order-independent integer addition on both engines — the
    established micro-nat discipline applied to a statistic.

    Scale shape: one orders⋈customer equi-join → an O(|priorities| ×
    |segments|) cell agg (map-side combine); margins, totals, and the
    statistic all live on that ≤25-row relation. Nothing downstream
    of the first agg touches the corpus.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # The ≤25-row cell relation feeds six consumers (row/col margins,
    # total, the term join, and the dof counts) — left lazy, each
    # re-ran the orders⋈customer join + cell aggregate over the corpus.
    # Clean-session A/B 3.9 s -> ~1 s.
    cell = pin(
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    rt = cell.groupBy("pri").agg(F.sum("obs").cast("long").alias("rtot"))
    ct = cell.groupBy("seg").agg(F.sum("obs").cast("long").alias("ctot"))
    nn = cell.agg(F.sum("obs").cast("long").alias("n"))
    terms = (
        cell.join(F.broadcast(rt), "pri")
        .join(F.broadcast(ct), "seg")
        .crossJoin(F.broadcast(nn))
        .select(
            F.floor(
                F.col("obs").cast("double")
                * F.col("obs")
                * F.col("n")
                / (F.col("rtot").cast("double") * F.col("ctot"))
                * F.lit(1000000)
            )
            .cast("long")
            .alias("tm")
        )
    )
    tsum = terms.agg(F.sum("tm").alias("tmsum"))
    nr = rt.agg(F.count(F.lit(1)).cast("long").alias("n_priorities"))
    nc = ct.agg(F.count(F.lit(1)).cast("long").alias("n_segments"))
    return (
        nn.crossJoin(F.broadcast(tsum))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            F.col("n").alias("n_total"),
            "n_priorities",
            "n_segments",
            ((F.col("n_priorities") - 1) * (F.col("n_segments") - 1))
            .cast("long")
            .alias("dof"),
            (
                F.col("tmsum").cast("double") / F.lit(1000000) - F.col("n")
            ).alias("chi2_stat"),
        )
    )


#: ANOVA quantization: group sum-of-squares terms are floored in units
#: of 1e10 cents² (= 1e6 dollars²) so the cross-group Σ is exact
#: integer addition; the F ratio is then computed in pure integer
#: arithmetic with ONE final divide.
_ANOVA_EPOCH = "1992-01-01"
_ANOVA_Q = 10_000_000_000


@register(
    "agg_weekday_anova",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '{_ANOVA_EPOCH}'
                  AS BIGINT) % 7 AS wd,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS cents
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    grp AS (
      SELECT wd, CAST(COUNT(*) AS BIGINT) AS n_g,
             SUM(CAST(cents AS HUGEINT)) AS s_g
      FROM daily GROUP BY wd
    ),
    gterm AS (
      SELECT CAST(SUM(CAST(floor(CAST(CAST(s_g AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(s_g AS VARCHAR) AS DOUBLE)
                     / n_g / {_ANOVA_Q}) AS BIGINT)) AS BIGINT) AS t,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS HUGEINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM grp
    ),
    x AS (
      SELECT CAST(floor(
               CAST(CAST(SUM(CAST(cents AS HUGEINT) * cents) AS VARCHAR)
                    AS DOUBLE) / {_ANOVA_Q}) AS BIGINT) AS xq
      FROM daily
    )
    SELECT g.n AS n_days, g.k AS k_groups,
           CAST((g.t - CAST(floor(CAST(CAST(g.s AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(g.s AS VARCHAR) AS DOUBLE)
                        / g.n / {_ANOVA_Q}) AS BIGINT))
                AS DOUBLE) * 1000000 AS ss_between,
           CAST(x.xq - g.t AS DOUBLE) * 1000000 AS ss_within,
           CAST((g.t - CAST(floor(CAST(CAST(g.s AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(g.s AS VARCHAR) AS DOUBLE)
                        / g.n / {_ANOVA_Q}) AS BIGINT)) * (g.n - g.k)
                AS DOUBLE)
             / CAST((x.xq - g.t) * (g.k - 1) AS DOUBLE) AS f_stat,
           CAST(g.t - CAST(floor(CAST(CAST(g.s AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(g.s AS VARCHAR) AS DOUBLE)
                        / g.n / {_ANOVA_Q}) AS BIGINT) AS DOUBLE)
             / CAST(x.xq - CAST(floor(CAST(CAST(g.s AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(g.s AS VARCHAR) AS DOUBLE)
                        / g.n / {_ANOVA_Q})
                        AS BIGINT) AS DOUBLE) AS eta_sq
    FROM gterm g CROSS JOIN x
    """,
)
def agg_weekday_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A72: one-way ANOVA of daily revenue by weekday — does the day
    of week explain revenue variance? The F statistic over the
    O(days) daily-revenue relation with weekday groups (day index
    mod 7 from a shared epoch — pure integer calendar, no engine
    dow() semantics), plus effect size η² = SSB/SST. Complements the
    weekday-seasonality profile (A32) with the number that says
    whether the seasonality clears noise.

    Exactness: daily revenues are exact integer cents; each group's
    S_g²/n_g term (and the grand term) is a fixed IEEE chain floored
    in units of {_ANOVA_Q} cents² so the cross-group Σ is exact
    integer addition; F = (T−G)(n−k) / (X−T)(k−1) is then PURE
    integer arithmetic with one final divide — bitwise cross-engine.

    Scale shape: orders scan → O(days) hash agg → O(7) group agg →
    1-row statistic. The date domain bounds everything after the
    first map-side-combinable aggregate.
    """
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(dec("o_totalprice") * 100).cast("long").alias("cents"))
        .select(
            F.pmod(
                F.datediff(F.col("d"), F.lit(_ANOVA_EPOCH).cast("date")),
                F.lit(7),
            )
            .cast("long")
            .alias("wd"),
            "cents",
        )
    )
    grp = daily.groupBy("wd").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_g"),
    )
    sgd = F.col("s_g").cast("double")
    gterm = grp.select(
        "n_g",
        "s_g",
        F.floor(sgd * sgd / F.col("n_g") / F.lit(_ANOVA_Q))
        .cast("long")
        .alias("tg"),
    ).agg(
        F.sum("tg").cast("long").alias("t"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").alias("s"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    x = daily.agg(
        F.floor(
            F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
            .cast("double")
            / F.lit(_ANOVA_Q)
        )
        .cast("long")
        .alias("xq")
    )
    sd = F.col("s").cast("double")
    g_grand = F.floor(sd * sd / F.col("n") / F.lit(_ANOVA_Q)).cast("long")
    ssb_q = F.col("t") - g_grand
    ssw_q = F.col("xq") - F.col("t")
    return gterm.crossJoin(F.broadcast(x)).select(
        F.col("n").alias("n_days"),
        F.col("k").alias("k_groups"),
        (ssb_q.cast("double") * F.lit(1000000)).alias("ss_between"),
        (ssw_q.cast("double") * F.lit(1000000)).alias("ss_within"),
        (
            (ssb_q * (F.col("n") - F.col("k"))).cast("double")
            / (ssw_q * (F.col("k") - 1)).cast("double")
        ).alias("f_stat"),
        (
            ssb_q.cast("double")
            / (F.col("xq") - g_grand).cast("double")
        ).alias("eta_sq"),
    )


# ---------------------------------------------------------------------------
# Round-16 batch 3: robust aggregates, drawdown, systematic-sample
# estimator audit, and the 2-D Z-order layout benefit audit.
# ---------------------------------------------------------------------------


@register(
    "agg_winsorized_spend_stats",
    oracle="""
    WITH spend AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                  ) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    rk AS (
      SELECT c_nationkey, cents,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY cents, o_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_nationkey) AS n
      FROM spend
    ),
    cuts AS (
      SELECT c_nationkey, CAST(n AS BIGINT) AS n,
             MAX(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
                      THEN cents END) AS p05,
             MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                      THEN cents END) AS p95
      FROM rk GROUP BY c_nationkey, n
    ),
    w AS (
      SELECT r.c_nationkey, c.n, c.p05, c.p95,
             CAST(SUM(r.cents) AS BIGINT) AS s_raw,
             CAST(SUM(CASE WHEN r.cents < c.p05 THEN c.p05
                           WHEN r.cents > c.p95 THEN c.p95
                           ELSE r.cents END) AS BIGINT) AS s_win,
             CAST(SUM(CASE WHEN r.rn > CAST(ceil(0.05 * c.n) AS BIGINT)
                            AND r.rn <= CAST(ceil(0.95 * c.n) AS BIGINT)
                           THEN r.cents ELSE 0 END) AS BIGINT) AS s_trim,
             CAST(SUM(CASE WHEN r.rn > CAST(ceil(0.05 * c.n) AS BIGINT)
                            AND r.rn <= CAST(ceil(0.95 * c.n) AS BIGINT)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_trim
      FROM rk r JOIN cuts c ON c.c_nationkey = r.c_nationkey
      GROUP BY 1, 2, 3, 4
    )
    SELECT nn.n_name AS nation, w.n AS n_customers,
           CAST(w.p05 AS DOUBLE) / 100 AS p05,
           CAST(w.p95 AS DOUBLE) / 100 AS p95,
           CAST(w.s_raw AS DOUBLE) / w.n / 100 AS mean_raw,
           CAST(w.s_win AS DOUBLE) / w.n / 100 AS mean_winsorized,
           CAST(w.s_trim AS DOUBLE) / w.n_trim / 100 AS mean_trimmed
    FROM w JOIN nation nn ON nn.n_nationkey = w.c_nationkey
    ORDER BY nation
    """,
)
def agg_winsorized_spend_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A73: WINSORIZED and TRIMMED means — the robust-location
    complement of the MAD outlier screen (A26): per nation, customer
    lifetime spend summarized three ways (raw mean; p05/p95-winsorized
    mean — tails clamped to the nearest-rank percentile; 90% trimmed
    mean — tails dropped). The spread between the three IS the whale
    effect; reports built on raw means alone overstate the typical
    customer by exactly that gap.

    Exactness: spends are exact integer cents; percentile cuts are
    nearest-rank (ceil(q·n), integer comparisons on a deterministic
    (cents, custkey) order — no interpolation float); clamp/trim sums
    stay int64; each mean is one IEEE divide.

    Scale shape: orders scan → per-customer agg (map-side combine) →
    per-nation rank window (25-way parallel; the per-group sort is
    the exact-percentile family's inherent cost — the registered
    approx twin A9 is the 100 TB production form) → O(nations) rollup
    and broadcast name join.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nn = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg((F.sum(dec("o_totalprice") * 100)).cast("long").alias("cents"))
    )
    w_rk = Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
    w_n = Window.partitionBy("c_nationkey")
    rk = spend.select(
        "c_nationkey",
        "cents",
        F.row_number().over(w_rk).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    k_lo = F.ceil(F.lit(0.05) * F.col("n")).cast("long")
    k_hi = F.ceil(F.lit(0.95) * F.col("n")).cast("long")
    cuts = rk.groupBy("c_nationkey", F.col("n").cast("long").alias("n")).agg(
        F.max(F.when(F.col("rn") == k_lo, F.col("cents"))).alias("p05"),
        F.max(F.when(F.col("rn") == k_hi, F.col("cents"))).alias("p95"),
    )
    j = rk.drop("n").join(cuts, "c_nationkey")
    in_trim = (F.col("rn") > k_lo) & (F.col("rn") <= k_hi)
    w = j.groupBy("c_nationkey", "n", "p05", "p95").agg(
        F.sum("cents").cast("long").alias("s_raw"),
        F.sum(
            F.when(F.col("cents") < F.col("p05"), F.col("p05"))
            .when(F.col("cents") > F.col("p95"), F.col("p95"))
            .otherwise(F.col("cents"))
        )
        .cast("long")
        .alias("s_win"),
        F.sum(F.when(in_trim, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_trim"),
        F.sum(F.when(in_trim, 1).otherwise(0)).cast("long").alias("n_trim"),
    )
    return (
        w.join(F.broadcast(nn), w.c_nationkey == nn.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("n").alias("n_customers"),
            (F.col("p05").cast("double") / 100).alias("p05"),
            (F.col("p95").cast("double") / 100).alias("p95"),
            (F.col("s_raw").cast("double") / F.col("n") / 100).alias(
                "mean_raw"
            ),
            (F.col("s_win").cast("double") / F.col("n") / 100).alias(
                "mean_winsorized"
            ),
            (F.col("s_trim").cast("double") / F.col("n_trim") / 100).alias(
                "mean_trimmed"
            ),
        )
        .orderBy("nation")
    )


@register(
    "window_revenue_drawdown",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  ) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    pk AS (
      SELECT d, rev,
             MAX(rev) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM daily
    )
    SELECT d AS day,
           CAST(rev AS DOUBLE) / 100 AS revenue,
           CAST(peak AS DOUBLE) / 100 AS peak_revenue,
           CAST(peak - rev AS DOUBLE) / 100 AS drawdown,
           CAST(peak - rev AS DOUBLE) / CAST(peak AS DOUBLE)
             AS drawdown_share
    FROM pk
    """,
)
def window_revenue_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15: DRAWDOWN series — per day, daily revenue against its
    running historical peak, the gap (drawdown), and the gap as a
    share of the peak. The max row of ``drawdown_share`` is the
    maximum drawdown — the risk-report number (how far below the
    best-ever day did we fall) that the rolling z-score (W4) and
    CUSUM alarm (W12) bracket but don't state.

    Exactness: daily revenue is exact integer cents; the running peak
    is an integer max; the share is one IEEE divide on exact ints.

    Scale shape: orders scan → O(days) hash agg; the running-peak
    window orders only the date-domain-bounded daily relation (the
    Spearman/skyline discipline — a deliberate global window over a
    few thousand rows, never the corpus).
    """
    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(dec("o_totalprice") * 100).cast("long").alias("rev"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pk = daily.select(
        "d", "rev", F.max("rev").over(w).alias("peak")
    )
    return pk.select(
        F.col("d").alias("day"),
        (F.col("rev").cast("double") / 100).alias("revenue"),
        (F.col("peak").cast("double") / 100).alias("peak_revenue"),
        ((F.col("peak") - F.col("rev")).cast("double") / 100).alias(
            "drawdown"
        ),
        (
            (F.col("peak") - F.col("rev")).cast("double")
            / F.col("peak").cast("double")
        ).alias("drawdown_share"),
    )


#: Systematic sampling geometry: keep keys ≡ _SYS_OFFSET (mod _SYS_K).
_SYS_K = 40
_SYS_OFFSET = 7


@register(
    "agg_systematic_sample_estimate",
    oracle=f"""
    WITH base AS (
      SELECT r.r_name AS region,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             o.o_orderkey % {_SYS_K} AS slot
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    )
    SELECT region,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS DOUBLE) / 100 AS revenue,
           CAST(SUM(CASE WHEN slot = {_SYS_OFFSET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
           CAST({_SYS_K} * SUM(CASE WHEN slot = {_SYS_OFFSET}
                                    THEN cents ELSE 0 END) AS DOUBLE) / 100
             AS revenue_estimated,
           (CAST({_SYS_K} * SUM(CASE WHEN slot = {_SYS_OFFSET}
                                     THEN cents ELSE 0 END) AS DOUBLE)
              - CAST(SUM(cents) AS DOUBLE))
             / CAST(SUM(cents) AS DOUBLE) AS relative_error
    FROM base GROUP BY region ORDER BY region
    """,
)
def agg_systematic_sample_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """O9: SYSTEMATIC sampling estimator audit — keep every order
    whose surrogate key ≡ {_SYS_OFFSET} (mod {_SYS_K}) (the 1-in-
    {_SYS_K} systematic pass a pipeline runs when it wants a cheap,
    REPRODUCIBLE sample with zero RNG state), scale the sample total
    by {_SYS_K}, and report the estimate against ground truth per
    region. The relative-error column is the measured answer to "can
    the daily dashboard run on the systematic sample?" — the
    measure-don't-guess discipline applied to the engine's own
    sampling shortcut (complements the seeded Bernoulli O4, which is
    rows-only by RNG; this one is exactly oracle-checkable BECAUSE
    key-systematic sampling is deterministic).

    Exactness: membership is integer modular arithmetic on the key;
    both totals are exact int64 cents; estimate and error are fixed
    IEEE chains.

    Scale shape: ONE scan computes truth and estimate together
    (conditional aggregation — the sample is not a second pass);
    dimension joins broadcast. Nothing after the O(regions) agg.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            (dec("o_totalprice") * 100).cast("long").alias("cents"),
            F.pmod("o_orderkey", F.lit(_SYS_K)).alias("slot"),
        )
    )
    in_s = F.col("slot") == _SYS_OFFSET
    est = (
        F.lit(_SYS_K)
        * F.sum(F.when(in_s, F.col("cents")).otherwise(0))
    ).cast("double")
    return (
        base.groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum("cents").cast("double") / 100).alias("revenue"),
            F.sum(F.when(in_s, 1).otherwise(0))
            .cast("long")
            .alias("n_sampled"),
            (est / 100).alias("revenue_estimated"),
            (
                (est - F.sum("cents").cast("double"))
                / F.sum("cents").cast("double")
            ).alias("relative_error"),
        )
        .orderBy("region")
    )


#: Z-order audit geometry: 8-bit normalized dims and the probe windows
#: (day range, quantity range, or both; -1/10**9 sentinels mean
#: "unconstrained").
_ZO_BITS = 8
_ZO_PROBES = (
    ("q1_1996_dates", 1461, 1551, -1, 1_000_000_000),
    ("qty_45_50", -1, 1_000_000_000, 45, 50),
    ("both_narrow", 1461, 1551, 45, 50),
)


def _sql_interleave(a: str, b: str) -> str:
    """16-bit Morton code: bit i of ``a`` → bit 2i+1, bit i of ``b`` →
    bit 2i (identical integer expression in both engines)."""
    terms = []
    for i in range(_ZO_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def _interleave_col(a, b) -> "F.Column":
    z = F.lit(0).cast("long")
    for i in range(_ZO_BITS):
        z = z + F.shiftleft(
            F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1
        ) + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
    return z


@register(
    "layout_zorder_benefit_audit",
    oracle=f"""
    WITH d0 AS (
      SELECT CAST(CAST(l_shipdate AS DATE) - DATE '{_ZM_EPOCH}' AS BIGINT)
               AS day,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d0),
    norm AS (
      SELECT day, qty,
             ((day - b.lo) * 256) // (b.hi - b.lo + 1) AS d8,
             ((qty - 1) * 256) // 50 AS q8
      FROM d0 CROSS JOIN bounds b
    ),
    rows_b AS (
      SELECT layout, bucket,
             MIN(day) AS dmin, MAX(day) AS dmax,
             MIN(qty) AS qmin, MAX(qty) AS qmax,
             COUNT(*) AS n_rows
      FROM (
        SELECT day, qty, 'date_sorted' AS layout, d8 // 4 AS bucket
        FROM norm
        UNION ALL
        SELECT day, qty, 'qty_sorted' AS layout, q8 // 4 AS bucket
        FROM norm
        UNION ALL
        SELECT day, qty, 'zorder' AS layout,
               ({_sql_interleave("d8", "q8")}) // 1024 AS bucket
        FROM norm
      )
      GROUP BY layout, bucket
    ),
    probes AS (
      SELECT * FROM (VALUES {", ".join(
        f"('{nm}', CAST({dl} AS BIGINT), CAST({dh} AS BIGINT), "
        f"CAST({ql} AS BIGINT), CAST({qh} AS BIGINT))"
        for nm, dl, dh, ql, qh in _ZO_PROBES
      )}) t(probe, d_lo, d_hi, q_lo, q_hi)
    ),
    match AS (
      SELECT p.probe, COUNT(*) AS n_match
      FROM probes p JOIN d0 ON d0.day BETWEEN p.d_lo AND p.d_hi
                           AND d0.qty BETWEEN p.q_lo AND p.q_hi
      GROUP BY p.probe
    )
    SELECT r.layout, p.probe,
           CAST(COUNT(*) AS BIGINT) AS buckets_total,
           CAST(SUM(CASE WHEN r.dmin <= p.d_hi AND r.dmax >= p.d_lo
                          AND r.qmin <= p.q_hi AND r.qmax >= p.q_lo
                         THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
           CAST(SUM(CASE WHEN r.dmin <= p.d_hi AND r.dmax >= p.d_lo
                          AND r.qmin <= p.q_hi AND r.qmax >= p.q_lo
                         THEN r.n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(COALESCE(MAX(m.n_match), 0) AS BIGINT) AS rows_matching,
           CASE WHEN COALESCE(MAX(m.n_match), 0) = 0 THEN NULL
                ELSE CAST(SUM(CASE WHEN r.dmin <= p.d_hi
                                    AND r.dmax >= p.d_lo
                                    AND r.qmin <= p.q_hi
                                    AND r.qmax >= p.q_lo
                               THEN r.n_rows ELSE 0 END) AS DOUBLE)
                     / MAX(m.n_match) END AS scan_amplification
    FROM rows_b r
    CROSS JOIN probes p
    LEFT JOIN match m ON m.probe = p.probe
    GROUP BY r.layout, p.probe
    ORDER BY r.layout, p.probe
    """,
)
def layout_zorder_benefit_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """S17/S19 EXT, the 2-D sequel to the zone-map audit (F120): when
    a workload probes TWO columns (ship date AND quantity), which
    layout should the writer cluster by? Bucket lineitem 64 ways under
    three layouts — date-sorted, quantity-sorted, and Z-ORDER (16-bit
    Morton interleave of the two 8-bit-normalized dims, the S17 writer's
    actual curve) — build per-bucket zone maps on BOTH columns, and
    replay date-only / qty-only / 2-D probes. The expected read: each
    1-D sort wins its own dimension and degenerates to a full scan on
    the other; Z-order pays a modest factor on both but never
    degenerates — THE quantified justification for the Z-order writer.

    Exactness: days/quantities are exact integers; the Morton code is
    a shared shift-mask-add integer expression; counts int64; the
    amplification is one IEEE divide (NULL on an empty probe, both
    engines).

    Scale shape: ONE two-column scan feeds all three layouts (a
    3-entry map explode, not three scans), one (layout, bucket) zone
    agg — map-side combinable, O(3·64) rows — and an O(probes) match
    count off the same projection; the probe replay joins literals
    against the tiny zone relation (the F120 plan, one dim wider).
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.datediff(F.col("l_shipdate"), F.lit(_ZM_EPOCH).cast("date"))
        .cast("long")
        .alias("day"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    bounds = li.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    norm = li.crossJoin(F.broadcast(bounds)).select(
        "day",
        "qty",
        F.floor(
            ((F.col("day") - F.col("lo")) * 256)
            / (F.col("hi") - F.col("lo") + 1)
        )
        .cast("long")
        .alias("d8"),
        F.floor(((F.col("qty") - 1) * 256) / F.lit(50))
        .cast("long")
        .alias("q8"),
    )
    layout_map = F.create_map(
        F.lit("date_sorted"),
        F.floor(F.col("d8") / 4).cast("long"),
        F.lit("qty_sorted"),
        F.floor(F.col("q8") / 4).cast("long"),
        F.lit("zorder"),
        F.floor(
            _interleave_col(F.col("d8"), F.col("q8")) / 1024
        ).cast("long"),
    )
    rows_b = (
        norm.select(
            "day", "qty", F.explode(layout_map).alias("layout", "bucket")
        )
        .groupBy("layout", "bucket")
        .agg(
            F.min("day").alias("dmin"),
            F.max("day").alias("dmax"),
            F.min("qty").alias("qmin"),
            F.max("qty").alias("qmax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    probes = spark.createDataFrame(
        list(_ZO_PROBES),
        "probe string, d_lo long, d_hi long, q_lo long, q_hi long",
    )
    match = (
        li.join(
            F.broadcast(probes),
            (F.col("day") >= F.col("d_lo"))
            & (F.col("day") <= F.col("d_hi"))
            & (F.col("qty") >= F.col("q_lo"))
            & (F.col("qty") <= F.col("q_hi")),
        )
        .groupBy("probe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_match"))
    )
    overlap = (
        (F.col("dmin") <= F.col("d_hi"))
        & (F.col("dmax") >= F.col("d_lo"))
        & (F.col("qmin") <= F.col("q_hi"))
        & (F.col("qmax") >= F.col("q_lo"))
    )
    return _pruning_report(rows_b, probes, match, overlap)


# ---------------------------------------------------------------------------
# Round-17 batch 1: trend / changepoint / association statistics over the
# date-domain-bounded daily-revenue relation. Everything here reduces the
# corpus to O(days) rows with ONE map-side-combinable hash aggregate, then
# computes the statistic over that bounded relation — the day-pair work is
# O(days²), constant in corpus size, never corpus-proportional.
# ---------------------------------------------------------------------------

#: Shared oracle CTE: per-day exact-integer revenue cents + order count.
_DAILY_SQL = """daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS cents,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    )"""


def _daily_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, cents, n) daily-revenue relation — exact integer cents, one
    orders scan, map-side combine; the bounded base every statistic in
    this section works from. Callers that branch it more than once
    should ``pin()`` it, so the orders scan happens exactly once."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(dec("o_totalprice") * 100).cast("long").alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


@register(
    "agg_kendall_tau_daily",
    oracle=f"""
    WITH {_DAILY_SQL},
    p AS (
      SELECT a.cents AS ca, a.n AS na, b.cents AS cb, b.n AS nb
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN (cb > ca AND nb > na)
                             OR (cb < ca AND nb < na)
                           THEN 1 ELSE 0 END) AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN (cb > ca AND nb < na)
                             OR (cb < ca AND nb > na)
                           THEN 1 ELSE 0 END) AS BIGINT) AS disc,
             CAST(SUM(CASE WHEN cb = ca THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(SUM(CASE WHEN nb = na THEN 1 ELSE 0 END) AS BIGINT) AS ty
      FROM p
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
    SELECT nd.n_days, s.n0 AS n_pairs,
           s.conc AS concordant, s.disc AS discordant,
           CAST(s.conc - s.disc AS DOUBLE)
             / sqrt(CAST(s.n0 - s.tx AS DOUBLE) * (s.n0 - s.ty)) AS tau_b,
           3.0 * CAST(s.conc - s.disc AS DOUBLE)
             / sqrt(CAST(nd.n_days AS DOUBLE) * (nd.n_days - 1)
                    * (2 * nd.n_days + 5) / 2) AS z_stat
    FROM s CROSS JOIN nd
    """,
)
def agg_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A74: KENDALL RANK CORRELATION (tau-b) between daily revenue and
    daily order count — the distribution-free association readout that
    Spearman (A70) approximates: are high-revenue days high-order-count
    days, robust to whales and nonlinearity? Emits concordant /
    discordant pair counts, tie-corrected tau-b, and the normal-
    approximation z.

    Exactness: every pair comparison is an integer predicate on exact
    cents/counts; C, D, and both tie totals are int64; tau-b and z are
    one fixed IEEE chain on those integers at the very end.

    Scale shape: one orders scan → O(days) hash agg (map-side combine)
    → an O(days²) day-pair join over the DATE-DOMAIN-BOUNDED relation
    (~2.4k days ⇒ ~3M comparisons, CONSTANT in corpus rows — the
    nested-loop broadcast is over the bounded axis, the reason it sits
    on the plan-hygiene allowlist) → one 1-row reduce.
    """
    daily = pin(_daily_rev(spark, sf_dir))
    a = daily.select(
        F.col("d").alias("da"), F.col("cents").alias("ca"),
        F.col("n").alias("na"),
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("cents").alias("cb"),
        F.col("n").alias("nb"),
    )
    up, dn = F.col("cb") > F.col("ca"), F.col("cb") < F.col("ca")
    inc, dec_ = F.col("nb") > F.col("na"), F.col("nb") < F.col("na")
    s = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n0"),
            F.sum(F.when((up & inc) | (dn & dec_), 1).otherwise(0))
            .cast("long")
            .alias("conc"),
            F.sum(F.when((up & dec_) | (dn & inc), 1).otherwise(0))
            .cast("long")
            .alias("disc"),
            F.sum(F.when(F.col("cb") == F.col("ca"), 1).otherwise(0))
            .cast("long")
            .alias("tx"),
            F.sum(F.when(F.col("nb") == F.col("na"), 1).otherwise(0))
            .cast("long")
            .alias("ty"),
        )
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    cd = (F.col("conc") - F.col("disc")).cast("double")
    ndd = F.col("n_days").cast("double")
    return s.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.col("n0").alias("n_pairs"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        (
            cd
            / F.sqrt(
                (F.col("n0") - F.col("tx")).cast("double")
                * (F.col("n0") - F.col("ty"))
            )
        ).alias("tau_b"),
        (
            F.lit(3.0) * cd
            / F.sqrt(
                ndd * (F.col("n_days") - 1)
                * (2 * F.col("n_days") + 5) / F.lit(2)
            )
        ).alias("z_stat"),
    )


#: Theil-Sen slope quantization: milli-cents per day (exact integer
#: floor division of the pairwise slope — keeps the median an integer
#: comparison on both engines).
_SEN_SCALE = 1000


@register(
    "agg_theilsen_trend_slope",
    oracle=f"""
    WITH {_DAILY_SQL},
    p AS (
      SELECT (b.cents - a.cents) * {_SEN_SCALE} AS num,
             CAST(b.d - a.d AS BIGINT) AS dd
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    sl AS (
      SELECT (num - ((num % dd) + dd) % dd) // dd AS slope_q FROM p
    ),
    g AS (
      SELECT slope_q, CAST(COUNT(*) AS BIGINT) AS c FROM sl GROUP BY slope_q
    ),
    cum AS (
      SELECT slope_q,
             SUM(c) OVER (ORDER BY slope_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
      FROM g
    ),
    m AS (SELECT CAST(SUM(c) AS BIGINT) AS m FROM g),
    med AS (
      SELECT MIN(slope_q) AS sen_q
      FROM cum CROSS JOIN m WHERE f >= (m.m + 1) // 2
    ),
    ols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(di) AS BIGINT) AS sx,
             CAST(SUM(di * di) AS BIGINT) AS sxx,
             CAST(SUM(cents) AS BIGINT) AS sy,
             SUM(CAST(di AS HUGEINT) * cents) AS sxy
      FROM (SELECT CAST(d - DATE '{_ANOVA_EPOCH}' AS BIGINT) AS di, cents
            FROM daily)
    )
    SELECT ols.nd AS n_days, m.m AS n_pairs,
           CAST(med.sen_q AS DOUBLE) / {_SEN_SCALE} AS sen_slope,
           (CAST(ols.nd AS DOUBLE) * CAST(CAST(ols.sxy AS VARCHAR) AS DOUBLE)
              - CAST(ols.sx AS DOUBLE) * ols.sy)
           / (CAST(ols.nd AS DOUBLE) * ols.sxx
              - CAST(ols.sx AS DOUBLE) * ols.sx) AS ols_slope
    FROM ols CROSS JOIN m CROSS JOIN med
    """,
)
def agg_theilsen_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A75: THEIL-SEN ROBUST TREND — the median of all pairwise daily-
    revenue slopes (cents/day), the estimator with a 29% breakdown
    point where OLS has zero: one quarter of wild days cannot move it.
    Emits the Sen slope next to the exact-sufficient-statistic OLS
    slope; the gap between them IS the leverage of the outlier days.

    Exactness: each pairwise slope is floor-quantized to exact integer
    milli-cents/day (floor division via the non-negative-pmod identity,
    identical on both engines for negative numerators); the median is
    the LOWER median (rank ⌈m/2⌉ — an integer rank lookup, no float
    interpolation); OLS comes from exact integer sums (Σxy widened to
    decimal(38,0)/HUGEINT with the VARCHAR-hop read).

    Scale shape: O(days) hash agg → bounded O(days²) pair join,
    materialized once → an O(buckets) census agg → the rank lookup
    resolves ONE bucket (the one holding the median rank) — no global
    per-pair sort, no full-width prefix window, and nothing grows with
    corpus rows.
    """
    daily = pin(_daily_rev(spark, sf_dir))
    a = daily.select(F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("cents").alias("cb"))
    p = a.join(b, F.col("da") < F.col("db")).select(
        ((F.col("cb") - F.col("ca")) * _SEN_SCALE).alias("num"),
        F.datediff("db", "da").cast("long").alias("dd"),
    )
    # Materialize the slope relation ONCE — both the bucket census and the
    # median-bucket drill-down read it. (The previous form hash-agged
    # all ~days²/2 NEARLY-DISTINCT quantized slopes and ran full-width
    # prefix windows over them twice — the rank lookup only ever needs
    # ONE bucket's rows resolved.)
    sl = pin(
        p.select(
            F.expr("(num - pmod(num, dd)) div dd").alias("slope_q")
        )
    )
    bkt = F.floor(F.col("slope_q") / F.lit(_RANK_BUCKET))
    # the census feeds the slope total and the median-bucket pick
    bsum = pin(
        sl.groupBy(bkt.alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    m = bsum.agg(F.sum("c").cast("long").alias("m"))
    w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    # the single bucket holding the lower-median rank, with the count
    # of slopes in all buckets before it
    medb = (
        bsum.select(
            "b",
            "c",
            F.coalesce(F.sum("c").over(w_b), F.lit(0)).alias("pre"),
        )
        .crossJoin(F.broadcast(m))
        .filter(F.col("pre") + F.col("c") >= F.expr("(m + 1) div 2"))
        .orderBy("b")
        .limit(1)
        .select("b", "pre", F.expr("(m + 1) div 2").alias("target"))
    )
    inb = (
        sl.join(F.broadcast(medb), bkt == F.col("b"))
        .groupBy("slope_q", "pre", "target")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_s = Window.orderBy("slope_q").rowsBetween(
        Window.unboundedPreceding, 0
    )
    med = (
        inb.select(
            "slope_q",
            (F.col("pre") + F.sum("c").over(w_s)).alias("f"),
            "target",
        )
        .filter(F.col("f") >= F.col("target"))
        .agg(F.min("slope_q").alias("sen_q"))
    )
    di = F.datediff("d", F.lit(_ANOVA_EPOCH).cast("date")).cast("long")
    ols = daily.select(di.alias("di"), "cents").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("di").cast("long").alias("sx"),
        F.sum(F.col("di") * F.col("di")).cast("long").alias("sxx"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.col("di").cast("decimal(38,0)") * F.col("cents")).alias(
            "sxy"
        ),
    )
    ndd = F.col("nd").cast("double")
    sxd = F.col("sx").cast("double")
    return (
        ols.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(med))
        .select(
            F.col("nd").alias("n_days"),
            F.col("m").alias("n_pairs"),
            (F.col("sen_q").cast("double") / F.lit(_SEN_SCALE)).alias(
                "sen_slope"
            ),
            (
                (ndd * F.col("sxy").cast("double") - sxd * F.col("sy"))
                / (ndd * F.col("sxx") - sxd * F.col("sx"))
            ).alias("ols_slope"),
        )
    )


#: Changepoint quantization: between-segment sum-of-squares terms are
#: floored in units of _CPT_Q cents² so the k-sweep compares exact
#: integers (the A72 ANOVA discipline applied to the split statistic).
_CPT_Q = 10_000_000_000


@register(
    "agg_changepoint_best_split",
    oracle=f"""
    WITH {_DAILY_SQL},
    idx AS (
      SELECT d,
             ROW_NUMBER() OVER (ORDER BY d) AS k,
             SUM(cents) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk
      FROM daily
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
      FROM daily
    ),
    gains AS (
      SELECT d, k, sk, t.n, t.s,
             CAST(floor(CAST(CAST(sk AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(sk AS VARCHAR) AS DOUBLE)
                        / k / {_CPT_Q}) AS BIGINT)
             + CAST(floor(CAST(CAST(t.s - sk AS VARCHAR) AS DOUBLE)
                          * CAST(CAST(t.s - sk AS VARCHAR) AS DOUBLE)
                          / (t.n - k) / {_CPT_Q}) AS BIGINT)
             - CAST(floor(CAST(t.s AS DOUBLE) * t.s / t.n / {_CPT_Q})
                    AS BIGINT) AS gain_q
      FROM idx CROSS JOIN tot t WHERE k < t.n
    )
    SELECT n AS n_days, k AS n_before,
           strftime(d, '%Y-%m-%d') AS split_day,
           CAST(gain_q AS DOUBLE) * {_CPT_Q} / 10000 AS gain_dollars2,
           CAST(CAST(sk AS VARCHAR) AS DOUBLE) / k / 100 AS mean_before,
           CAST(CAST(s - sk AS VARCHAR) AS DOUBLE) / (n - k) / 100
             AS mean_after
    FROM gains ORDER BY gain_q DESC, k ASC LIMIT 1
    """,
)
def agg_changepoint_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A76: SINGLE-CHANGEPOINT DETECTION (binary segmentation, first
    split) on the daily-revenue series — the day k whose before/after
    segmentation maximizes the between-segment sum of squares
    S_k²/k + (S−S_k)²/(n−k) − S²/n. The root step of the standard
    binary-segmentation changepoint recursion, and the answer to "WHEN
    did the level shift?" that the CUSUM alarm (W12) only flags.

    Exactness: prefix sums are exact integer cents; each quadratic
    term is floored in units of {_CPT_Q} cents² (the A72 quantization
    discipline) so the argmax sweep compares EXACT INTEGERS with a
    deterministic (gain DESC, k ASC) tie-break; the emitted means are
    one IEEE chain on the same integers.

    Scale shape: one orders scan → O(days) hash agg → one window scan
    over the date-domain-bounded relation (~2.4k rows — the global
    window is over the BOUNDED axis, not the corpus) → 1-row result.
    """
    daily = pin(_daily_rev(spark, sf_dir))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    idx = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).cast("long").alias("k"),
        F.sum("cents").over(w).alias("sk"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    skd = F.col("sk").cast("double")
    restd = (F.col("s") - F.col("sk")).cast("double")
    sd = F.col("s").cast("double")
    gain_q = (
        F.floor(skd * skd / F.col("k") / F.lit(_CPT_Q)).cast("long")
        + F.floor(
            restd * restd / (F.col("n") - F.col("k")) / F.lit(_CPT_Q)
        ).cast("long")
        - F.floor(sd * sd / F.col("n") / F.lit(_CPT_Q)).cast("long")
    )
    return (
        idx.crossJoin(F.broadcast(tot))
        .filter(F.col("k") < F.col("n"))
        .select(
            F.col("n").alias("n_days"),
            F.col("k").alias("n_before"),
            F.date_format("d", "yyyy-MM-dd").alias("split_day"),
            gain_q.alias("gain_q"),
            (skd / F.col("k") / F.lit(100)).alias("mean_before"),
            (restd / (F.col("n") - F.col("k")) / F.lit(100)).alias(
                "mean_after"
            ),
        )
        .orderBy(F.desc("gain_q"), F.asc("n_before"))
        .limit(1)
        .select(
            "n_days",
            "n_before",
            "split_day",
            (F.col("gain_q").cast("double") * F.lit(_CPT_Q) / F.lit(10000))
            .alias("gain_dollars2"),
            "mean_before",
            "mean_after",
        )
    )


@register(
    "agg_runs_test_daily",
    oracle=f"""
    WITH {_DAILY_SQL},
    rk AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, d) AS r,
             COUNT(*) OVER () AS n
      FROM daily
    ),
    med AS (
      SELECT MAX(CASE WHEN r = (n + 1) // 2 THEN cents END) AS med
      FROM rk GROUP BY n
    ),
    sg AS (
      SELECT d, CASE WHEN cents > m.med THEN 1 ELSE 0 END AS s
      FROM daily CROSS JOIN med m WHERE cents <> m.med
    ),
    runs AS (SELECT s, LAG(s) OVER (ORDER BY d) AS prev FROM sg),
    st AS (
      SELECT CAST(SUM(s) AS BIGINT) AS a,
             CAST(SUM(1 - s) AS BIGINT) AS b,
             CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND s <> prev
                               THEN 1 ELSE 0 END) AS BIGINT) AS r
      FROM runs
    )
    SELECT a AS n_above, b AS n_below, r AS n_runs,
           2.0 * (a * b) / (a + b) + 1 AS expected_runs,
           (CAST(r AS DOUBLE) - (2.0 * (a * b) / (a + b) + 1))
           / sqrt(2.0 * (a * b) * (2 * (a * b) - a - b)
                  / (CAST(a + b AS DOUBLE) * (a + b) * (a + b - 1)))
             AS z_stat
    FROM st
    """,
)
def agg_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A78: WALD-WOLFOWITZ RUNS TEST for randomness of the daily-
    revenue sequence — is the above-median / below-median sign pattern
    serially independent, or does revenue cluster into regimes? Too few
    runs = positive serial dependence (trends/regimes, what A76 then
    locates); too many = oscillation. The nonparametric gatekeeper a
    forecasting pipeline checks before trusting i.i.d.-style intervals.

    Exactness: the reference level is the LOWER MEDIAN of daily cents
    (rank (n+1)//2 on a deterministic (cents, d) order — integer
    lookup, no interpolation); median-equal days are dropped (the
    standard treatment); run count is an integer lag scan; E[R] and z
    are one fixed IEEE chain on exact integers.

    Scale shape: O(days) hash agg → rank/lag windows over the bounded
    day axis → 1-row statistic. Nothing corpus-proportional past the
    first aggregate.
    """
    daily = pin(_daily_rev(spark, sf_dir))
    rk = daily.select(
        "cents",
        F.row_number().over(Window.orderBy("cents", "d")).alias("r"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    med = rk.groupBy("n").agg(
        F.max(
            F.when(F.col("r") == F.expr("(n + 1) div 2"), F.col("cents"))
        ).alias("med")
    ).select("med")
    sg = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("cents") != F.col("med"))
        .select(
            "d",
            F.when(F.col("cents") > F.col("med"), 1).otherwise(0).alias("s"),
        )
    )
    runs = sg.select(
        "s", F.lag("s").over(Window.orderBy("d")).alias("prev")
    )
    st = runs.agg(
        F.sum("s").cast("long").alias("a"),
        F.sum(1 - F.col("s")).cast("long").alias("b"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("s") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        ).cast("long").alias("r"),
    )
    ab = F.col("a") * F.col("b")
    e_runs = F.lit(2.0) * ab / (F.col("a") + F.col("b")) + F.lit(1)
    var = (
        F.lit(2.0)
        * ab
        * (2 * ab - F.col("a") - F.col("b"))
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("b"))
            * (F.col("a") + F.col("b") - 1)
        )
    )
    return st.select(
        F.col("a").alias("n_above"),
        F.col("b").alias("n_below"),
        F.col("r").alias("n_runs"),
        e_runs.alias("expected_runs"),
        ((F.col("r").cast("double") - e_runs) / F.sqrt(var)).alias("z_stat"),
    )


#: Autocorrelation lags (calendar days): adjacent-day, weekly, lunar-
#: monthly — the standard seasonality screen triplet.
_ACF_LAGS = (1, 7, 28)


@register(
    "agg_autocorr_daily_revenue",
    oracle=f"""
    WITH {_DAILY_SQL},
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s,
             SUM(CAST(cents AS HUGEINT) * cents) AS ss
      FROM daily
    ),
    lg AS (SELECT unnest([{", ".join(str(k) for k in _ACF_LAGS)}]) AS lag),
    p AS (
      SELECT lg.lag, CAST(COUNT(*) AS BIGINT) AS m,
             SUM(CAST(a.cents AS HUGEINT) * b.cents) AS pk,
             CAST(SUM(b.cents) AS BIGINT) AS sh,
             CAST(SUM(a.cents) AS BIGINT) AS st
      FROM daily a
      JOIN lg ON TRUE
      JOIN daily b ON b.d = a.d + CAST(lg.lag AS INTEGER)
      GROUP BY lg.lag
    )
    SELECT p.lag AS lag_days, p.m AS n_pairs,
           (CAST(CAST(p.pk AS VARCHAR) AS DOUBLE)
              - (CAST(t.s AS DOUBLE) / t.n) * p.sh
              - (CAST(t.s AS DOUBLE) / t.n) * p.st
              + (p.m * (CAST(t.s AS DOUBLE) / t.n))
                * (CAST(t.s AS DOUBLE) / t.n))
           / (CAST(CAST(t.ss AS VARCHAR) AS DOUBLE)
              - CAST(t.s AS DOUBLE) * (CAST(t.s AS DOUBLE) / t.n)) AS acf
    FROM p CROSS JOIN tot t ORDER BY lag_days
    """,
)
def agg_autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A79: AUTOCORRELATION of daily revenue at calendar lags
    {_ACF_LAGS} — the seasonality screen behind every forecasting
    choice in the engine (W8 EWMA's memory, W9's seasonal-naive lag,
    A32's weekday profile): lag-7 spikes say weekly seasonality, lag-1
    says momentum, lag-28 says monthly cycles.

    Exactness: all sufficient statistics are exact integers (lag cross-
    products widened to decimal(38,0)/HUGEINT — daily-cents products
    pass 2^63 at the 100× probe — with VARCHAR-hop reads); the ACF is
    one fixed IEEE chain per lag on those integers, with x̄ recomputed
    by the identical sub-expression everywhere it appears.

    Scale shape: O(days) hash agg → a 3-row lag-axis broadcast + one
    EQUI-join on the shifted date (never a range scan) → O(lags)
    rollup. Bounded by the date domain, constant in corpus rows.
    """
    daily = pin(_daily_rev(spark, sf_dir))
    lags = spark.createDataFrame(
        [(k,) for k in _ACF_LAGS], "lag int"
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "ss"
        ),
    )
    a = daily.select(F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("cents").alias("cb"))
    p = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("dk", F.date_add(F.col("da"), F.col("lag")))
        .join(b, F.col("db") == F.col("dk"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(F.col("ca").cast("decimal(38,0)") * F.col("cb")).alias(
                "pk"
            ),
            F.sum("cb").cast("long").alias("sh"),
            F.sum("ca").cast("long").alias("st"),
        )
    )
    xbar = F.col("s").cast("double") / F.col("n")
    return (
        p.crossJoin(F.broadcast(tot))
        .select(
            F.col("lag").cast("long").alias("lag_days"),
            F.col("m").alias("n_pairs"),
            (
                (
                    F.col("pk").cast("double")
                    - xbar * F.col("sh")
                    - xbar * F.col("st")
                    + (F.col("m") * xbar) * xbar
                )
                / (
                    F.col("ss").cast("double")
                    - F.col("s").cast("double") * xbar
                )
            ).alias("acf"),
        )
        .orderBy("lag_days")
    )


@register(
    "agg_seasonal_decomposition_daily",
    oracle=f"""
    WITH {_DAILY_SQL},
    ma AS (
      SELECT d, cents,
             SUM(cents) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w7,
             COUNT(*) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
      FROM daily
    ),
    det AS (
      SELECT CAST(d - DATE '{_ANOVA_EPOCH}' AS BIGINT) % 7 AS wd,
             7 * cents - w7 AS detr7
      FROM ma WHERE c7 = 7
    )
    SELECT wd, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(CAST(SUM(detr7) AS VARCHAR) AS DOUBLE) / 7 / COUNT(*) / 100
             AS seasonal_dollars
    FROM det GROUP BY wd ORDER BY wd
    """,
)
def agg_seasonal_decomposition_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A80: classical ADDITIVE SEASONAL DECOMPOSITION, weekday
    component — detrend daily revenue with a centered 7-observation
    moving total, then average the detrended series by weekday (day
    index mod 7 from the shared epoch, the A72 calendar). Where A32
    profiles RAW weekday revenue (trend leaks into the profile), this
    is the trend-free seasonal index the decomposition literature
    defines — the pair quantifies how much of A32's "seasonality" was
    actually growth.

    Exactness: the detrended value is kept as the exact INTEGER
    7·x_t − Σwindow (the ×7 clears the moving-average divide), so
    per-weekday sums are order-free integer addition (HUGEINT on the
    oracle with the VARCHAR-hop read); each index is one IEEE chain.

    Scale shape: O(days) hash agg → one row-window scan over the
    bounded day axis → O(7) rollup. Boundary days (incomplete window)
    are excluded exactly on both engines via the window COUNT.
    """
    daily = _daily_rev(spark, sf_dir)
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    ma = daily.select(
        "d",
        "cents",
        F.sum("cents").over(w7).alias("w7"),
        F.count(F.lit(1)).over(w7).alias("c7"),
    )
    det = ma.filter(F.col("c7") == 7).select(
        F.pmod(
            F.datediff("d", F.lit(_ANOVA_EPOCH).cast("date")), F.lit(7)
        ).cast("long").alias("wd"),
        (7 * F.col("cents") - F.col("w7")).alias("detr7"),
    )
    return (
        det.groupBy("wd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.sum("detr7").cast("double")
                / F.lit(7)
                / F.count(F.lit(1))
                / F.lit(100)
            ).alias("seasonal_dollars"),
        )
        .orderBy("wd")
    )


#: Quantile-treatment-effect probe deciles (percent ranks).
_QTE_DECILES = (10, 20, 30, 40, 50, 60, 70, 80, 90)


@register(
    "agg_quantile_treatment_effect",
    oracle=f"""
    WITH {_SQL_URGENT_CENTS},
    {_SQL_TWO_SAMPLE_CDF},
    qs AS (SELECT unnest([{", ".join(str(q) for q in _QTE_DECILES)}]) AS q),
    v1 AS (
      SELECT qs.q, MIN(cum.cents) AS c
      FROM qs CROSS JOIN n JOIN cum ON cum.f1 >= (qs.q * n.n1 + 99) // 100
      GROUP BY qs.q
    ),
    v2 AS (
      SELECT qs.q, MIN(cum.cents) AS c
      FROM qs CROSS JOIN n JOIN cum ON cum.f2 >= (qs.q * n.n2 + 99) // 100
      GROUP BY qs.q
    )
    SELECT CAST(v1.q AS BIGINT) AS pct,
           CAST(v1.c AS DOUBLE) / 100 AS v_urgent,
           CAST(v2.c AS DOUBLE) / 100 AS v_other,
           CAST(v1.c - v2.c AS DOUBLE) / 100 AS qte
    FROM v1 JOIN v2 ON v1.q = v2.q ORDER BY pct
    """,
)
def agg_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A77: QUANTILE TREATMENT EFFECT — WHERE the URGENT / non-URGENT
    order-value distributions differ: the per-decile gap between the
    two groups' exact nearest-rank quantiles. A66 (rank-sum) says
    WHETHER there is a shift and A67 (KS) says HOW BIG the worst CDF
    gap is; this is the readout an experimenter actually plots — the
    effect at the median vs the tails (heterogeneous treatment
    effects show up exactly here).

    Exactness: quantiles are NEAREST-RANK (ceil(q·n/100) via exact
    integer arithmetic, no interpolation float); both groups' CDFs
    ride the same distinct-cents relation; the QTE per decile is a
    subtraction of exact integers with one final IEEE divide.

    Scale shape: one orders scan → hash agg on DISTINCT cents (domain-
    bounded) → BOTH cumulative counts in ONE two-level bucketed prefix
    scan (`_prefix_sums`) → a 9-row decile-axis broadcast with min
    reduces. No global per-row sort, nothing corpus-proportional past
    the first aggregate.
    """
    v = _t(spark, sf_dir, "orders").select(
        (dec("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g"),
    )
    # one corpus scan feeds all downstream branches
    dv = pin(
        v.groupBy("cents").agg(
            F.sum("g").cast("long").alias("c1"),
            (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("c2"),
        )
    )
    cum = _prefix_sums(dv, "cents", [("c1", "f1", True), ("c2", "f2", True)])
    n = dv.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    # r18 (VERDICT #4, guide §2.3/§2.4): the decile axis is a
    # COMPILE-TIME constant, so the old 9× crossJoin row expansion —
    # consumed TWICE (v1/v2 each re-filtered and re-aggregated it) and
    # re-joined at the end — collapses into 18 conditional MINs in ONE
    # ungrouped aggregate over the cum relation (min over a filter ≡
    # min of a when/otherwise-null), un-pivoted back to 9 rows by a
    # 1-row explode. One pass instead of two, no q-keyed exchange, no
    # v1⋈v2 join; every threshold stays exact integer arithmetic.
    base = cum.crossJoin(F.broadcast(n))
    mins = base.agg(
        *[
            F.min(
                F.when(
                    F.col("f1") >= F.expr(f"({q} * n1 + 99) div 100"),
                    F.col("cents"),
                )
            ).alias(f"c1_{q}")
            for q in _QTE_DECILES
        ],
        *[
            F.min(
                F.when(
                    F.col("f2") >= F.expr(f"({q} * n2 + 99) div 100"),
                    F.col("cents"),
                )
            ).alias(f"c2_{q}")
            for q in _QTE_DECILES
        ],
    )
    rows = mins.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).cast("long").alias("pct"),
                        F.col(f"c1_{q}").alias("c1v"),
                        F.col(f"c2_{q}").alias("c2v"),
                    )
                    for q in _QTE_DECILES
                ]
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.pct").alias("pct"),
        (F.col("r.c1v").cast("double") / 100).alias("v_urgent"),
        (F.col("r.c2v").cast("double") / 100).alias("v_other"),
        ((F.col("r.c1v") - F.col("r.c2v")).cast("double") / 100).alias(
            "qte"
        ),
    ).orderBy("pct")


# ---------------------------------------------------------------------------
# Round-17 batch 2: entity resolution over the part catalog — blocking +
# sorted-neighborhood candidate generation + Fellegi-Sunter scoring.
# ---------------------------------------------------------------------------

#: Sorted-neighborhood window: each record pairs with the next W
#: records in its block's sort order — the LINEAR-candidate method
#: (O(N·W) pairs) that replaces quadratic within-block expansion.
_ER_WINDOW = 3

#: Fellegi-Sunter m-probabilities (P(feature agrees | true match)) —
#: fixed model constants; the u-probabilities are MEASURED from the
#: catalog's own value-frequency marginals.
_ER_M = {"adj": 0.9, "typ": 0.85, "siz": 0.8, "pb": 0.75}

#: Match-score thresholds (log-odds nats) for the weak/strong counts.
_ER_T_WEAK = 1.0
_ER_T_STRONG = 3.0


def _er_sql_u(feat: str) -> str:
    """Oracle scalar: u-probability of feature agreement over random
    unordered pairs, Σ C(n_v,2) / C(N,2), from the marginal value
    frequencies."""
    return f"""(
      SELECT CAST(SUM(c * (c - 1) // 2) AS DOUBLE)
             / (CAST(MIN(nn) AS DOUBLE) * (MIN(nn) - 1) / 2)
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c,
                   SUM(COUNT(*)) OVER () AS nn
            FROM px GROUP BY {feat})
    )"""


@register(
    "join_er_duplicate_listings",
    oracle=f"""
    WITH px AS (
      SELECT p_partkey,
             string_split(p_name, ' ')[1] AS adj,
             string_split(p_name, ' ')[2] AS noun,
             p_brand, p_type AS typ, CAST(p_size AS BIGINT) AS siz,
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               // 1000 AS pb
      FROM part
    ),
    u AS (
      SELECT {_er_sql_u("adj")} AS u_adj, {_er_sql_u("typ")} AS u_typ,
             {_er_sql_u("siz")} AS u_siz, {_er_sql_u("pb")} AS u_pb
    ),
    w AS (
      SELECT ln({_ER_M["adj"]} / u_adj) AS wa_adj,
             ln({1 - _ER_M["adj"]} / (1 - u_adj)) AS wd_adj,
             ln({_ER_M["typ"]} / u_typ) AS wa_typ,
             ln({1 - _ER_M["typ"]} / (1 - u_typ)) AS wd_typ,
             ln({_ER_M["siz"]} / u_siz) AS wa_siz,
             ln({1 - _ER_M["siz"]} / (1 - u_siz)) AS wd_siz,
             ln({_ER_M["pb"]} / u_pb) AS wa_pb,
             ln({1 - _ER_M["pb"]} / (1 - u_pb)) AS wd_pb
      FROM u
    ),
    sn AS (
      SELECT noun, adj, typ, siz, pb,
             {", ".join(
               f"LEAD(adj, {i}) OVER win AS adj{i}, "
               f"LEAD(typ, {i}) OVER win AS typ{i}, "
               f"LEAD(siz, {i}) OVER win AS siz{i}, "
               f"LEAD(pb, {i}) OVER win AS pb{i}"
               for i in range(1, _ER_WINDOW + 1)
             )}
      FROM px
      WINDOW win AS (PARTITION BY noun, p_brand
                     ORDER BY typ, siz, pb, p_partkey)
    ),
    pairs AS (
      {" UNION ALL ".join(
        f'''SELECT noun,
               (CASE WHEN adj = adj{i} THEN w.wa_adj ELSE w.wd_adj END
                + CASE WHEN typ = typ{i} THEN w.wa_typ ELSE w.wd_typ END
                + CASE WHEN siz = siz{i} THEN w.wa_siz ELSE w.wd_siz END
                + CASE WHEN pb = pb{i} THEN w.wa_pb ELSE w.wd_pb END)
                 AS score
            FROM sn CROSS JOIN w WHERE adj{i} IS NOT NULL'''
        for i in range(1, _ER_WINDOW + 1)
      )}
    ),
    np AS (SELECT noun, CAST(COUNT(*) AS BIGINT) AS n_parts
           FROM px GROUP BY noun)
    SELECT np.noun, np.n_parts,
           CAST(COUNT(p.score) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN p.score >= {_ER_T_WEAK} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_match_weak,
           CAST(SUM(CASE WHEN p.score >= {_ER_T_STRONG} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_match_strong,
           MAX(p.score) AS max_score
    FROM np LEFT JOIN pairs p ON p.noun = np.noun
    GROUP BY np.noun, np.n_parts ORDER BY np.noun
    """,
)
def join_er_duplicate_listings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J44: ENTITY RESOLUTION over the part catalog — duplicate-listing
    detection via the classic record-linkage stack: BLOCKING on
    (name noun, brand), SORTED-NEIGHBORHOOD candidate generation
    (each record pairs with the next {_ER_WINDOW} in its block's
    (type, size, price-bucket) sort order — O(N·W) LINEAR candidates,
    the method that replaces quadratic within-block expansion), and
    FELLEGI-SUNTER log-odds scoring with u-probabilities MEASURED from
    the catalog's own value-frequency marginals (Σ C(n_v,2)/C(N,2))
    and fixed m-probabilities. Emits the per-noun-block linkage report:
    candidate volume, weak/strong match counts, max score.

    Exactness: u-probabilities are exact-integer marginal counts with
    one IEEE divide; the four per-pair agreement predicates are integer
    /string equality; each pair's score is the SAME fixed chain of four
    pre-computed weight constants (ln evaluated ONCE on the 1-row
    weight relation by libm via `_ln_libm` — JVM Math.log is 1 ulp off
    libm on some inputs), so threshold counts and MAX are bitwise
    cross-engine.

    Scale shape: one part scan → per-block window (blocks =
    noun×brand, so block count scales with key cardinality and each
    window partition sorts only its block) → O(N·W) pair rows →
    O(blocks) rollup. The weight table is a 1-row broadcast. No pair
    blowup: candidates are linear in catalog size by construction.
    """
    from .llm_ops import _ln_libm  # lazy: avoids a module import cycle

    ln = _ln_libm()
    # one scan feeds marginals + window + rollup
    px = pin(
        _t(spark, sf_dir, "part").select(
            "p_partkey",
            F.split("p_name", " ").getItem(0).alias("adj"),
            F.split("p_name", " ").getItem(1).alias("noun"),
            "p_brand",
            F.col("p_type").alias("typ"),
            F.col("p_size").cast("long").alias("siz"),
            F.expr(
                "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
                " div 1000"
            ).alias("pb"),
        )
    )

    def u_of(feat: str) -> DataFrame:
        c = px.groupBy(feat).agg(F.count(F.lit(1)).cast("long").alias("c"))
        return c.agg(
            (
                F.sum(F.expr("c * (c - 1) div 2")).cast("double")
                / (
                    F.sum("c").cast("double")
                    * (F.sum("c") - 1)
                    / F.lit(2)
                )
            ).alias(f"u_{feat}")
        )

    u = (
        u_of("adj")
        .crossJoin(u_of("typ"))
        .crossJoin(u_of("siz"))
        .crossJoin(u_of("pb"))
    )
    wcols = []
    for f_ in ("adj", "typ", "siz", "pb"):
        m = _ER_M[f_]
        wcols.append(ln(F.lit(m) / F.col(f"u_{f_}")).alias(f"wa_{f_}"))
        wcols.append(
            ln(F.lit(1 - m) / (F.lit(1) - F.col(f"u_{f_}"))).alias(
                f"wd_{f_}"
            )
        )
    w = u.select(*wcols)
    win = Window.partitionBy("noun", "p_brand").orderBy(
        "typ", "siz", "pb", "p_partkey"
    )
    nb = F.struct("adj", "typ", "siz", "pb")
    sn = px.select(
        "noun",
        "adj",
        "typ",
        "siz",
        "pb",
        F.array(
            *[F.lead(nb, i).over(win) for i in range(1, _ER_WINDOW + 1)]
        ).alias("nbs"),
    )
    pr = sn.select(
        "noun", "adj", "typ", "siz", "pb",
        F.explode("nbs").alias("o"),
    ).filter(F.col("o.adj").isNotNull())
    score = (
        F.when(F.col("adj") == F.col("o.adj"), F.col("wa_adj")).otherwise(
            F.col("wd_adj")
        )
        + F.when(F.col("typ") == F.col("o.typ"), F.col("wa_typ")).otherwise(
            F.col("wd_typ")
        )
        + F.when(F.col("siz") == F.col("o.siz"), F.col("wa_siz")).otherwise(
            F.col("wd_siz")
        )
        + F.when(F.col("pb") == F.col("o.pb"), F.col("wa_pb")).otherwise(
            F.col("wd_pb")
        )
    )
    pairs = pr.crossJoin(F.broadcast(w)).select(
        "noun", score.alias("score")
    )
    np_ = px.groupBy("noun").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    return (
        np_.join(pairs, "noun", "left")
        .groupBy("noun", "n_parts")
        .agg(
            F.count("score").cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("score") >= _ER_T_WEAK, 1).otherwise(0)
            ).cast("long").alias("n_match_weak"),
            F.sum(
                F.when(F.col("score") >= _ER_T_STRONG, 1).otherwise(0)
            ).cast("long").alias("n_match_strong"),
            F.max("score").alias("max_score"),
        )
        .orderBy("noun")
    )


# ---------------------------------------------------------------------------
# Round-17 session-2 batch: survival / multiple-testing / information-theory
# statistics over the order and event streams. Same determinism contract as
# the r16/r17 statistics batches: exact integer sufficient statistics, fixed
# IEEE chains, libm transcendentals only on bounded post-aggregate axes, and
# quantized contributions wherever a cross-engine summation order would
# otherwise be unspecified.
# ---------------------------------------------------------------------------


def _sql_reorder_durs(seg: str | None = None) -> str:
    """base/mx/seq/durs oracle CTEs shared by A81 (no group) and A84
    (customer-segment group flag ``g``): per-customer reorder gaps as
    event durations plus the right-censored tail after each customer's
    last order. ONE definition so the censoring rule can never diverge
    between the KM table and the log-rank split of it."""
    cols = ("o.o_custkey AS ck, CAST(o.o_orderdate AS DATE) AS d, "
            "o.o_orderkey AS k")
    if seg is None:
        base = f"base AS (SELECT {cols} FROM orders o)"
        g = ""
    else:
        base = (
            f"base AS (SELECT {cols}, CASE WHEN c.c_mktsegment = '{seg}' "
            "THEN 1 ELSE 0 END AS g FROM orders o "
            "JOIN customer c ON c.c_custkey = o.o_custkey)"
        )
        g = "g, "
    return f"""{base},
    mx AS (SELECT MAX(d) AS mxd FROM base),
    seq AS (
      SELECT ck, {g}d, LEAD(d) OVER (PARTITION BY ck ORDER BY d, k) AS nd
      FROM base
    ),
    durs AS (
      SELECT {g}CASE WHEN nd IS NULL THEN date_diff('day', d, m.mxd)
                  ELSE date_diff('day', d, nd) END AS t,
             CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
      FROM seq CROSS JOIN mx m
    )"""


def _reorder_durations(
    spark: SparkSession, sf_dir: str, seg: str | None = None
) -> DataFrame:
    """(t, ev[, g]) reorder-gap durations with right-censored tails —
    the Spark twin of ``_sql_reorder_durs``, shared by A81/A84 so the
    log-rank partition law holds by construction, not by discipline.
    Scale shape: one orders scan (plus a 2-column customer join when a
    segment flag is requested) -> per-customer lag window on the
    uniform key -> one 1-row censor-anchor broadcast."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    if seg is None:
        base = o
        gcols = []
    else:
        c = _t(spark, sf_dir, "customer").select(
            "c_custkey",
            F.when(F.col("c_mktsegment") == seg, 1).otherwise(0).alias("g"),
        )
        base = o.join(c, o.ck == c.c_custkey).select("ck", "g", "d", "k")
        gcols = ["g"]
    mx = base.agg(F.max("d").alias("mxd"))
    nd = F.lead("d").over(Window.partitionBy("ck").orderBy("d", "k"))
    seq = base.select("ck", *gcols, "d", nd.alias("nd"))
    return seq.crossJoin(F.broadcast(mx)).select(
        *gcols,
        F.when(
            F.col("nd").isNull(), F.datediff(F.col("mxd"), F.col("d"))
        )
        .otherwise(F.datediff(F.col("nd"), F.col("d")))
        .alias("t"),
        F.when(F.col("nd").isNull(), 0).otherwise(1).alias("ev"),
    )


@register(
    "agg_kaplan_meier_reorder",
    oracle=f"""
    WITH RECURSIVE {_sql_reorder_durs()},
    ag AS (
      SELECT CAST(t AS BIGINT) AS t, CAST(SUM(ev) AS BIGINT) AS d_t,
             CAST(SUM(1 - ev) AS BIGINT) AS c_t
      FROM durs GROUP BY t
    ),
    risk AS (
      SELECT t, d_t, c_t,
             CAST(SUM(d_t + c_t) OVER (
               ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS n_risk
      FROM ag
    ),
    ev AS (
      SELECT t, n_risk, d_t, c_t, ROW_NUMBER() OVER (ORDER BY t) AS r
      FROM risk WHERE d_t > 0
    ),
    km AS (
      SELECT r, t, n_risk, d_t, c_t,
             CAST(n_risk - d_t AS DOUBLE) / CAST(n_risk AS DOUBLE) AS surv
      FROM ev WHERE r = 1
      UNION ALL
      SELECT e.r, e.t, e.n_risk, e.d_t, e.c_t,
             km.surv * (CAST(e.n_risk - e.d_t AS DOUBLE)
                        / CAST(e.n_risk AS DOUBLE))
      FROM km JOIN ev e ON e.r = km.r + 1
    )
    SELECT t AS t_days, n_risk AS n_at_risk, d_t AS n_events,
           c_t AS n_censored, surv AS survival
    FROM km ORDER BY t_days
    """,
)
def agg_kaplan_meier_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A81: KAPLAN-MEIER survival of the customer REORDER gap — for
    each customer, every consecutive-order gap is an observed event
    duration and the tail from the last order to the corpus end is a
    RIGHT-CENSORED duration; the estimator reports, per event time t
    (gap length in days), the at-risk count, event/censor counts, and
    the product-limit survival S(t) = prod_{u<=t}(1 - d_u/n_u). The
    churn primitive the engine's retention family (A15/A53/A54) was
    missing: A54 histograms COMPLETED gaps only, which biases long
    gaps down — KM is the estimator that uses the censored tails
    instead of dropping them.

    Exactness: durations are integer day diffs; d_t/c_t/n_t are exact
    int64 counts (the at-risk curve is a reverse cumulative integer
    sum, order-free); each hazard factor is one int-int double
    division, identical on both engines; and the running product is
    forced into the SAME ascending-t left-fold on both sides — a
    sequential ``aggregate()`` over the sorted event-time array in
    Spark, a recursive CTE stepping r -> r+1 in DuckDB — so every
    survival value is bitwise cross-engine (double multiplication is
    not associative; an unordered product aggregate would not be).

    Scale shape: one orders scan -> per-customer lag window (uniform
    customer key, parallel) -> hash agg onto the bounded gap-day axis
    (O(days), map-side combine). Everything after — the at-risk
    window, the fold — runs on the O(days) axis; the single-row
    censor anchor (corpus max date) is the only broadcast. At 10^9
    customers the gap axis is still ~2.5k rows.
    """
    durs = _reorder_durations(spark, sf_dir)
    ag = durs.groupBy(F.col("t").cast("long").alias("t")).agg(
        F.sum("ev").cast("long").alias("d_t"),
        F.sum(1 - F.col("ev")).cast("long").alias("c_t"),
    )
    risk = ag.select(
        "t",
        "d_t",
        "c_t",
        F.sum(F.col("d_t") + F.col("c_t"))
        .over(
            Window.orderBy(F.desc("t")).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("long")
        .alias("n_risk"),
    )
    ev = risk.filter(F.col("d_t") > 0)
    one = ev.agg(
        F.sort_array(
            F.collect_list(F.struct("t", "n_risk", "d_t", "c_t"))
        ).alias("arr")
    )
    folded = one.select(
        "arr",
        F.expr(
            """
            aggregate(
              arr,
              struct(CAST(1.0 AS DOUBLE) AS p,
                     CAST(array() AS ARRAY<DOUBLE>) AS out),
              (acc, x) -> struct(
                acc.p * (CAST(x.n_risk - x.d_t AS DOUBLE)
                         / CAST(x.n_risk AS DOUBLE)),
                concat(acc.out,
                       array(acc.p * (CAST(x.n_risk - x.d_t AS DOUBLE)
                                      / CAST(x.n_risk AS DOUBLE))))),
              acc -> acc.out)
            """
        ).alias("survs"),
    )
    return (
        folded.select(
            F.expr("inline(arrays_zip(arr, survs))")
        )
        .select(
            F.col("arr.t").alias("t_days"),
            F.col("arr.n_risk").alias("n_at_risk"),
            F.col("arr.d_t").alias("n_events"),
            F.col("arr.c_t").alias("n_censored"),
            F.col("survs").alias("survival"),
        )
        .orderBy("t_days")
    )


#: Benjamini-Hochberg target false-discovery rate for the per-nation
#: return-rate screen (the conventional q for exploratory screens).
_FDR_Q = "0.1"

#: Abramowitz-Stegun 26.2.17 normal-tail coefficients — the classic
#: |error| < 7.5e-8 polynomial. Both engines evaluate the SAME Horner
#: chain on the same double literals, so the p-values are bitwise
#: cross-engine (the approximation itself is the operator's published
#: contract, exactly like the z-test's normal approximation in A65).
_AS_T = "0.2316419"
_AS_B = ("0.319381530", "-0.356563782", "1.781477937",
         "-1.821255978", "1.330274429")
_AS_PDF = "0.3989422804014327"


def _sql_norm_p2(az: str) -> str:
    """Two-sided normal p-value 2*Q(|z|) as a DuckDB expression — the
    A&S 26.2.17 chain, written operation-for-operation identically to
    the ``_pnorm2_libm`` pandas UDF."""
    t = f"(1.0 / (1.0 + {_AS_T} * {az}))"
    b1, b2, b3, b4, b5 = _AS_B
    poly = (
        f"({t} * ({b1} + {t} * ({b2} + {t} * "
        f"({b3} + {t} * ({b4} + {t} * {b5})))))"
    )
    return (
        f"(2.0 * (({_AS_PDF} * exp(-0.5 * {az} * {az})) * {poly}))"
    )


def _pnorm2_libm():
    """Two-sided normal p-value via libm ``exp`` (pandas UDF on the
    bounded post-aggregate axis only) — mirrors ``_sql_norm_p2``
    operation-for-operation; JVM ``Math.exp`` is 1 ulp off libm on
    some inputs, which would break the bitwise contract."""
    import math

    _t0 = float(_AS_T)
    _b = tuple(float(x) for x in _AS_B)
    _pdf = float(_AS_PDF)

    @F.pandas_udf("double")
    def _p(az: pd.Series) -> pd.Series:
        def q(z):
            if z is None or pd.isna(z):
                return None
            t = 1.0 / (1.0 + _t0 * z)
            poly = t * (_b[0] + t * (_b[1] + t * (_b[2] + t * (_b[3] + t * _b[4]))))
            return 2.0 * ((_pdf * math.exp(-0.5 * z * z)) * poly)

        return az.map(q)

    return _p


@register(
    "agg_return_rate_fdr_bh",
    oracle=f"""
    WITH j AS (
      SELECT n.n_name,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ret) AS BIGINT) AS r
      FROM j GROUP BY n_name
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(r) AS BIGINT) AS rr,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM g
    ),
    z AS (
      SELECT g.n_name, g.n, g.r, t.m,
             CAST(g.r AS DOUBLE) / CAST(g.n AS DOUBLE) AS rate,
             ((CAST(g.r AS DOUBLE) / CAST(g.n AS DOUBLE))
              - (CAST(t.rr - g.r AS DOUBLE) / CAST(t.nn - g.n AS DOUBLE)))
             / sqrt((CAST(t.rr AS DOUBLE) / CAST(t.nn AS DOUBLE))
                    * (1.0 - CAST(t.rr AS DOUBLE) / CAST(t.nn AS DOUBLE))
                    * (1.0 / CAST(g.n AS DOUBLE)
                       + 1.0 / CAST(t.nn - g.n AS DOUBLE))) AS z_stat
      FROM g CROSS JOIN tot t
    ),
    p AS (
      SELECT n_name, n, r, m, rate, z_stat,
             {_sql_norm_p2("abs(z_stat)")} AS p_value
      FROM z
    ),
    rk AS (
      SELECT *,
             CAST(ROW_NUMBER() OVER (ORDER BY p_value, n_name) AS BIGINT)
               AS p_rank
      FROM p
    ),
    thr AS (
      SELECT *,
             (CAST(p_rank AS DOUBLE) * {_FDR_Q}) / CAST(m AS DOUBLE)
               AS bh_threshold
      FROM rk
    ),
    kstar AS (
      SELECT MAX(CASE WHEN p_value <= bh_threshold THEN p_rank
                      ELSE 0 END) AS k
      FROM thr
    )
    SELECT t.n_name, t.n AS n_items, t.r AS n_returned, t.rate,
           t.z_stat, t.p_value, t.p_rank, t.bh_threshold,
           CAST(CASE WHEN t.p_rank <= k.k THEN 1 ELSE 0 END AS BIGINT)
             AS rejected
    FROM thr t CROSS JOIN kstar k
    ORDER BY t.p_rank
    """,
)
def agg_return_rate_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A82: BENJAMINI-HOCHBERG FDR control over the per-nation return-
    rate screen — 25 simultaneous two-proportion z-tests (each nation
    vs the rest of the corpus, the A65 statistic per segment), each
    with its two-sided normal p-value, ranked and thresholded by the
    step-up BH rule at q={_FDR_Q}. The missing piece between A65 (ONE
    test) and the segment-report family: run the same screen over 25
    segments and ~2.5 of them clear p<0.1 by luck alone — this is the
    operator that says which segment differences survive multiple-
    comparison discipline, which is what decides a per-segment
    rollout.

    Exactness: per-segment counts are exact int64 from one scan; z is
    a fixed IEEE chain on those integers; the p-value is the A&S
    26.2.17 polynomial evaluated in the SAME Horner order on both
    engines with libm ``exp`` on both sides (pandas UDF on the 25-row
    axis in Spark; DuckDB's ``exp`` IS libm) — bitwise, with the
    approximation itself (|err| < 7.5e-8) part of the operator's
    contract. Ranks tie-break on n_name; the step-up cutoff k* is an
    integer MAX over the bounded axis.

    Scale shape: aggregates pushed BELOW every join — lineitems roll
    up to order grain with a map-side combine BEFORE the orders
    shuffle (the join is then 1:1 on the order key, ~4x fewer shuffle
    rows), the joined rows roll up to customer grain before the
    customer join, and only O(customers) rows ever reach the nation
    rollup; everything after (z, p, rank, BH) runs on the O(nations)
    axis with two 1-row broadcasts (totals, k*). At 10^9 segments the
    rank/threshold step would shard by the two-level prefix-scan
    discipline (_prefix_sums); at the real 25-segment axis a single
    bounded window is the right plan.
    """
    # Aggregate BELOW the join: the per-order rollup collapses ~4
    # lineitems/order with a map-side combine BEFORE the shuffle, so
    # the orders join moves order-grain rows (1:1 on the key), not raw
    # lineitems; the custkey rollup repeats the trick before the
    # customer join. Totals are identical integer sums in any
    # grouping order, so the output is bit-for-bit unchanged.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    li_g = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("ln"),
        F.sum("ret").cast("long").alias("lr"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust_g = (
        li_g.join(o, li_g.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum("ln").cast("long").alias("cn"),
            F.sum("lr").cast("long").alias("cr"),
        )
    )
    g = (
        cust_g.join(c, cust_g.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum("cn").cast("long").alias("n"),
            F.sum("cr").cast("long").alias("r"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    zrel = g.crossJoin(F.broadcast(tot))
    rate = F.col("r").cast("double") / F.col("n").cast("double")
    p2 = (F.col("rr") - F.col("r")).cast("double") / (
        F.col("nn") - F.col("n")
    ).cast("double")
    pp = F.col("rr").cast("double") / F.col("nn").cast("double")
    z = (rate - p2) / F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("n").cast("double")
            + F.lit(1.0) / (F.col("nn") - F.col("n")).cast("double")
        )
    )
    pnorm = _pnorm2_libm()
    p = zrel.select(
        "n_name",
        "n",
        "r",
        "m",
        rate.alias("rate"),
        z.alias("z_stat"),
    ).withColumn("p_value", pnorm(F.abs(F.col("z_stat"))))
    rk = p.withColumn(
        "p_rank",
        F.row_number()
        .over(Window.orderBy("p_value", "n_name"))
        .cast("long"),
    )
    thr = rk.withColumn(
        "bh_threshold",
        (F.col("p_rank").cast("double") * F.lit(float(_FDR_Q)))
        / F.col("m").cast("double"),
    )
    kstar = thr.agg(
        F.max(
            F.when(
                F.col("p_value") <= F.col("bh_threshold"), F.col("p_rank")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("k")
    )
    return (
        thr.crossJoin(F.broadcast(kstar))
        .select(
            "n_name",
            F.col("n").alias("n_items"),
            F.col("r").alias("n_returned"),
            "rate",
            "z_stat",
            "p_value",
            "p_rank",
            "bh_threshold",
            F.when(F.col("p_rank") <= F.col("k"), 1)
            .otherwise(0)
            .cast("long")
            .alias("rejected"),
        )
        .orderBy("p_rank")
    )


#: Quantization scale for information-theoretic contributions whose
#: cross-engine summation order is unspecified (the r16 quantized-sum
#: discipline): both engines floor identical doubles to integer
#: pico-nats, then sum exactly.
_MI_SCALE = "1000000000000.0"


@register(
    "agg_event_weekday_mutual_info",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS weekday,
             CAST(COUNT(*) AS BIGINT) AS n_cell
      FROM events GROUP BY event_type, dayofweek(CAST(ts AS DATE)) + 1
    ),
    rowt AS (
      SELECT event_type, CAST(SUM(n_cell) AS BIGINT) AS n_type
      FROM cells GROUP BY event_type
    ),
    colt AS (
      SELECT weekday, CAST(SUM(n_cell) AS BIGINT) AS n_weekday
      FROM cells GROUP BY weekday
    ),
    tot AS (SELECT CAST(SUM(n_cell) AS BIGINT) AS nn FROM cells),
    pm AS (
      SELECT c.event_type, c.weekday, c.n_cell, r.n_type, w.n_weekday,
             ln((CAST(c.n_cell AS DOUBLE) * CAST(t.nn AS DOUBLE))
                / (CAST(r.n_type AS DOUBLE)
                   * CAST(w.n_weekday AS DOUBLE))) AS pmi_nats,
             CAST(floor(((CAST(c.n_cell AS DOUBLE) / CAST(t.nn AS DOUBLE))
               * ln((CAST(c.n_cell AS DOUBLE) * CAST(t.nn AS DOUBLE))
                    / (CAST(r.n_type AS DOUBLE)
                       * CAST(w.n_weekday AS DOUBLE))))
               * {_MI_SCALE}) AS BIGINT) AS cq
      FROM cells c
      JOIN rowt r ON r.event_type = c.event_type
      JOIN colt w ON w.weekday = c.weekday
      CROSS JOIN tot t
    ),
    hrow AS (
      SELECT CAST(SUM(CAST(floor((-((CAST(r.n_type AS DOUBLE)
               / CAST(t.nn AS DOUBLE))
               * ln(CAST(r.n_type AS DOUBLE) / CAST(t.nn AS DOUBLE))))
               * {_MI_SCALE}) AS BIGINT)) AS BIGINT) AS hq
      FROM rowt r CROSS JOIN tot t
    ),
    hcol AS (
      SELECT CAST(SUM(CAST(floor((-((CAST(w.n_weekday AS DOUBLE)
               / CAST(t.nn AS DOUBLE))
               * ln(CAST(w.n_weekday AS DOUBLE) / CAST(t.nn AS DOUBLE))))
               * {_MI_SCALE}) AS BIGINT)) AS BIGINT) AS hq
      FROM colt w CROSS JOIN tot t
    ),
    mi AS (SELECT CAST(SUM(cq) AS BIGINT) AS mi_q FROM pm)
    SELECT p.event_type, p.weekday, p.n_cell, p.n_type, p.n_weekday,
           p.pmi_nats,
           CAST(m.mi_q AS DOUBLE) / {_MI_SCALE} AS mi_nats,
           CAST(hr.hq AS DOUBLE) / {_MI_SCALE} AS h_type,
           CAST(hc.hq AS DOUBLE) / {_MI_SCALE} AS h_weekday,
           CAST(m.mi_q AS DOUBLE)
             / sqrt(CAST(hr.hq AS DOUBLE) * CAST(hc.hq AS DOUBLE)) AS nmi
    FROM pm p CROSS JOIN mi m CROSS JOIN hrow hr CROSS JOIN hcol hc
    ORDER BY p.event_type, p.weekday
    """,
)
def agg_event_weekday_mutual_info(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A83: MUTUAL INFORMATION between event type and weekday — the
    full dependence audit the chi-square test (A71) only thresholds:
    per-cell pointwise mutual information (which (type, day) pairs
    co-occur above/below independence) plus the corpus-level MI,
    marginal entropies, and normalized MI (MI / sqrt(H_row * H_col),
    the symmetric-uncertainty variant). The feature-relevance number
    a pipeline reads before keying a mixture or shard layout on a
    categorical column: NMI ~ 0 says the column carries no signal
    about the other and partitioning on it buys nothing.

    Exactness: the contingency table is exact int64 from ONE events
    scan (marginals and the total are rollups of the cell relation,
    not re-scans); per-cell PMI is libm ``ln`` on both engines
    (pandas UDF on the <=35-row cell axis in Spark; DuckDB ``ln`` IS
    libm) over identical int-ratio doubles, so each cell is bitwise;
    and the three SUMS whose cross-engine order would be unspecified
    (MI, H_row, H_col) follow the r16 quantized-sum discipline —
    floor identical doubles to integer pico-nats, sum exactly, divide
    once at the end.

    Scale shape: one corpus scan -> hash agg onto the bounded
    (type x weekday) cell axis with map-side combine; every join,
    entropy, and sum downstream runs on O(cells) rows with three
    1-row broadcasts. Weekday parity: Spark ``dayofweek`` is
    Sunday=1, DuckDB's is Sunday=0 — the oracle adds 1 (the A32
    convention).
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("d")
    )
    # one corpus scan feeds all four rollups
    cells = pin(
        ev.groupBy(
            "event_type",
            F.dayofweek("d").cast("long").alias("weekday"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_cell"))
    )
    rowt = cells.groupBy("event_type").agg(
        F.sum("n_cell").cast("long").alias("n_type")
    )
    colt = cells.groupBy("weekday").agg(
        F.sum("n_cell").cast("long").alias("n_weekday")
    )
    tot = cells.agg(F.sum("n_cell").cast("long").alias("nn"))
    ln = _ln_libm_ext()
    scale = float(_MI_SCALE)
    pm = (
        cells.join(rowt, "event_type")
        .join(colt, "weekday")
        .crossJoin(F.broadcast(tot))
    )
    lnarg = (
        F.col("n_cell").cast("double") * F.col("nn").cast("double")
    ) / (F.col("n_type").cast("double") * F.col("n_weekday").cast("double"))
    # the cell axis feeds 3 consumers below
    pm = pin(
        pm.withColumn("pmi_nats", ln(lnarg)).withColumn(
            "cq",
            F.floor(
                (
                    (F.col("n_cell").cast("double") / F.col("nn").cast("double"))
                    * F.col("pmi_nats")
                )
                * F.lit(scale)
            ).cast("long"),
        )
    )
    hrow = (
        rowt.crossJoin(F.broadcast(tot))
        .withColumn(
            "lr", ln(F.col("n_type").cast("double") / F.col("nn").cast("double"))
        )
        .select(
            F.floor(
                (
                    -(
                        (
                            F.col("n_type").cast("double")
                            / F.col("nn").cast("double")
                        )
                        * F.col("lr")
                    )
                )
                * F.lit(scale)
            )
            .cast("long")
            .alias("q")
        )
        .agg(F.sum("q").cast("long").alias("hq"))
    )
    hcol = (
        colt.crossJoin(F.broadcast(tot))
        .withColumn(
            "lw",
            ln(F.col("n_weekday").cast("double") / F.col("nn").cast("double")),
        )
        .select(
            F.floor(
                (
                    -(
                        (
                            F.col("n_weekday").cast("double")
                            / F.col("nn").cast("double")
                        )
                        * F.col("lw")
                    )
                )
                * F.lit(scale)
            )
            .cast("long")
            .alias("q")
        )
        .agg(F.sum("q").cast("long").alias("hq"))
    )
    mi = pm.agg(F.sum("cq").cast("long").alias("mi_q"))
    return (
        pm.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hrow.select(F.col("hq").alias("hr_q"))))
        .crossJoin(F.broadcast(hcol.select(F.col("hq").alias("hc_q"))))
        .select(
            "event_type",
            "weekday",
            "n_cell",
            "n_type",
            "n_weekday",
            "pmi_nats",
            (F.col("mi_q").cast("double") / F.lit(scale)).alias("mi_nats"),
            (F.col("hr_q").cast("double") / F.lit(scale)).alias("h_type"),
            (F.col("hc_q").cast("double") / F.lit(scale)).alias("h_weekday"),
            (
                F.col("mi_q").cast("double")
                / F.sqrt(
                    F.col("hr_q").cast("double")
                    * F.col("hc_q").cast("double")
                )
            ).alias("nmi"),
        )
        .orderBy("event_type", "weekday")
    )


#: Log-rank segmentation: group 1 = this marketing segment's
#: customers, group 2 = everyone else. Quantization scale for the
#: order-unspecified (O-E) and variance sums: integer nano-units.
_LOGRANK_SEG = "BUILDING"
_LR_SCALE = "1000000000.0"


@register(
    "agg_logrank_reorder_by_segment",
    oracle=f"""
    WITH {_sql_reorder_durs(_LOGRANK_SEG)},
    ag AS (
      SELECT CAST(t AS BIGINT) AS t,
             CAST(SUM(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN g = 0 THEN ev ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a2
      FROM durs GROUP BY t
    ),
    risk AS (
      SELECT t, d1, d2,
             CAST(SUM(a1) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n1,
             CAST(SUM(a2) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n2
      FROM ag
    ),
    ev AS (
      SELECT t, n1, n2, d1, d2,
             (CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE))
               / CAST(n1 + n2 AS DOUBLE) AS e1,
             CAST(floor((CAST(d1 AS DOUBLE)
               - (CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE))
                 / CAST(n1 + n2 AS DOUBLE)) * {_LR_SCALE}) AS BIGINT)
               AS oeq,
             CAST(floor((CASE WHEN n1 + n2 <= 1 THEN 0.0
               ELSE ((CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE))
                     / CAST(n1 + n2 AS DOUBLE))
                    * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                    * (CAST(n1 + n2 - d1 - d2 AS DOUBLE)
                       / CAST(n1 + n2 - 1 AS DOUBLE)) END)
               * {_LR_SCALE}) AS BIGINT) AS vq
      FROM risk WHERE d1 + d2 > 0
    ),
    st AS (
      SELECT CAST(SUM(oeq) AS BIGINT) AS oq, CAST(SUM(vq) AS BIGINT) AS vvq,
             CAST(COUNT(*) AS BIGINT) AS n_times
      FROM ev
    )
    SELECT e.t AS t_days, e.n1 AS n1_at_risk, e.n2 AS n2_at_risk,
           e.d1 AS d1_events, e.d2 AS d2_events, e.e1 AS e1_expected,
           CAST(s.oq AS DOUBLE) / {_LR_SCALE} AS o_minus_e,
           CAST(s.vvq AS DOUBLE) / {_LR_SCALE} AS variance,
           (CAST(s.oq AS DOUBLE) / {_LR_SCALE})
             * (CAST(s.oq AS DOUBLE) / {_LR_SCALE})
             / (CAST(s.vvq AS DOUBLE) / {_LR_SCALE}) AS chi_sq,
           s.n_times
    FROM ev e CROSS JOIN st s
    ORDER BY t_days
    """,
)
def agg_logrank_reorder_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A84: LOG-RANK TEST — does the {_LOGRANK_SEG} marketing
    segment's reorder survival differ from everyone else's? The
    standard two-sample censored-data comparison completing the A81
    family: per pooled event time, each group's at-risk and event
    counts, group 1's hypergeometric expectation E1 = d*n1/n, and the
    Mantel-Haenszel chi-square ((sum(O1-E1))^2 / sum(V)) attached to
    every row. KM (A81) DESCRIBES each curve; this says whether the
    gap clears noise — what decides a segment-targeted retention
    intervention. Censoring handled exactly as A81 (tails after each
    customer's last order).

    Exactness: at-risk curves are reverse cumulative INTEGER sums per
    group over the bounded gap axis; E1 and the per-time variance
    term are fixed IEEE chains on exact int64 counts (kept in doubles
    because d*n1*n2*(n-d) overflows int64 at the 100x probe); the two
    order-unspecified sums (O-E, V) follow the quantized-sum
    discipline in integer nano-units. The n<=1 variance guard is
    identical on both engines.

    Scale shape: ONE orders-customer equi-join (customer side pruned
    to 2 columns) -> per-customer lag window on the uniform key ->
    hash agg onto the bounded (gap-day) axis with map-side combine;
    the risk windows, quantized sums, and the statistic all run on
    O(days) rows with two 1-row broadcasts (censor anchor, the
    pooled statistic).
    """
    durs = _reorder_durations(spark, sf_dir, _LOGRANK_SEG)
    ag = durs.groupBy(F.col("t").cast("long").alias("t")).agg(
        F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("g") == 0, F.col("ev")).otherwise(0))
        .cast("long")
        .alias("d2"),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("a1"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0))
        .cast("long")
        .alias("a2"),
    )
    wdesc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = ag.select(
        "t",
        "d1",
        "d2",
        F.sum("a1").over(wdesc).cast("long").alias("n1"),
        F.sum("a2").over(wdesc).cast("long").alias("n2"),
    )
    scale = float(_LR_SCALE)
    dtot = (F.col("d1") + F.col("d2")).cast("double")
    ntot = (F.col("n1") + F.col("n2")).cast("double")
    e1 = dtot * F.col("n1").cast("double") / ntot
    vterm = F.when(
        (F.col("n1") + F.col("n2")) <= 1, F.lit(0.0)
    ).otherwise(
        (dtot * F.col("n1").cast("double") / ntot)
        * (F.col("n2").cast("double") / ntot)
        * (
            (F.col("n1") + F.col("n2") - F.col("d1") - F.col("d2")).cast(
                "double"
            )
            / (F.col("n1") + F.col("n2") - 1).cast("double")
        )
    )
    # feeds the stat and the rows
    ev = pin(
        risk.filter(F.col("d1") + F.col("d2") > 0).select(
            "t",
            "n1",
            "n2",
            "d1",
            "d2",
            e1.alias("e1"),
            F.floor((F.col("d1").cast("double") - e1) * F.lit(scale))
            .cast("long")
            .alias("oeq"),
            F.floor(vterm * F.lit(scale)).cast("long").alias("vq"),
        )
    )
    st = ev.agg(
        F.sum("oeq").cast("long").alias("oq"),
        F.sum("vq").cast("long").alias("vvq"),
        F.count(F.lit(1)).cast("long").alias("n_times"),
    )
    oe = F.col("oq").cast("double") / F.lit(scale)
    vv = F.col("vvq").cast("double") / F.lit(scale)
    return (
        ev.crossJoin(F.broadcast(st))
        .select(
            F.col("t").alias("t_days"),
            F.col("n1").alias("n1_at_risk"),
            F.col("n2").alias("n2_at_risk"),
            F.col("d1").alias("d1_events"),
            F.col("d2").alias("d2_events"),
            F.col("e1").alias("e1_expected"),
            oe.alias("o_minus_e"),
            vv.alias("variance"),
            (oe * oe / vv).alias("chi_sq"),
            "n_times",
        )
        .orderBy("t_days")
    )
