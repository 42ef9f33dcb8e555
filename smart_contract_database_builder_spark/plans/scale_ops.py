"""Scale-toolkit operators as REGISTERED queries (r8 VERDICT item #6).

``functions/skew.py`` (salted two-phase aggregation, hot-key split
join) and ``sources/bucketing.py`` (write-once bucketed layout,
exchange-free co-located join) were equivalence- and plan-asserted in
pytest but reachable from no registered query — so they earned no
driver correctness row and no bench row. Each is registered here with
a plain-SQL DuckDB oracle: the toolkit's contract is VALUE NEUTRALITY
(the rewrite changes the physical plan, never the answer), so the
oracle of the rewritten query IS the unrewritten query's SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dec
from ..functions.skew import hot_key_split_join, salted_agg
from ..sources.store_root import ensure_store, store_path
from .registry import register
from .relational_ext import _t


@register(
    "agg_skewed_revenue_salted",
    oracle="""
    SELECT l_returnflag AS return_flag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS sum_disc_price,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_skewed_revenue_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 EXT / scale toolkit: the Q1-family rollup rewritten through
    ``salted_agg`` — TWO-PHASE aggregation for skewed group keys.
    ``l_returnflag`` has 3 values over the whole fact table (the
    canonical "one key holds a double-digit share of all rows" shape):
    a plain groupBy sends every row of a hot key to ONE reducer, so at
    1000 executors two of them do all the work. The salted form
    partial-aggregates on (key, salt) — ≤ ``n_salts`` bounded partials
    per key per wave — then merges partials on the key, so the final
    shuffle moves O(keys × salts) rows regardless of fact size.

    Value neutrality IS the oracle: the registered SQL is the PLAIN
    group-by — exact-decimal partial sums re-sum associatively, so the
    salted plan must hash-match it bit-for-bit (the same
    ``tests/test_scale_layout.py`` equivalence, now driver-checked).
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        dec("l_quantity").alias("qty"),
        (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
            "disc_price"
        ),
    )
    out = salted_agg(
        li,
        "l_returnflag",
        {
            "sum_qty": ("sum", F.sum("qty")),
            "sum_disc_price": ("sum", F.sum("disc_price")),
            "n_lines": ("count", F.count(F.lit(1))),
        },
    )
    return out.select(
        F.col("_key").alias("return_flag"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
        F.col("n_lines").cast("long").alias("n_lines"),
    )


#: The hot-key set routed through the broadcast path. A production
#: caller derives this from frequency knowledge (an approx_count pass
#: or a domain constant — the null key, the mega-customer); here it is
#: a fixed literal so the routing itself — not the detection — is what
#: the oracle checks. Every partkey in [1, 16] rides the broadcast
#: join; everything else takes the normal shuffle join.
_HOT_PARTKEYS = list(range(1, 17))


@register(
    "join_hot_key_split_revenue",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def join_hot_key_split_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 EXT / scale toolkit: brand revenue through
    ``hot_key_split_join`` — the skewed-join rewrite for keys AQE's
    skew splitting can't save (a key so hot its split partitions still
    straggle). Rows whose partkey is in the declared hot set join
    against a BROADCAST slice of the dim (no shuffle touches them);
    the well-behaved remainder takes the ordinary shuffle join; the
    union feeds one partial+final aggregate.

    Value neutrality IS the oracle: the registered SQL is the plain
    lineitem⋈part join — split ∪ must equal it exactly (the
    ``tests/test_scale_layout.py`` pin, now driver-checked). Exact
    decimal sums keep the two join routes' row orders irrelevant.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"),
        (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
            "disc_price"
        ),
    )
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    joined = hot_key_split_join(li, part, "partkey", _HOT_PARTKEYS)
    return joined.groupBy(F.col("p_brand").alias("brand")).agg(
        F.sum("disc_price").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


#: Bucketed-layout codec version: the stored tables bake in DERIVED
#: values (``disc_price = l_extendedprice * (1 - l_discount)`` under
#: ``dec()`` decimal semantics) plus the projected column set and the
#: bucket spec. BUMP whenever ``dec()`` semantics, the projected
#: expressions, or the bucket count/key change — the files survive
#: across sessions, so without the bump a code change would silently
#: serve values derived under the OLD arithmetic (the same failure
#: mode ``_PQ_CODEC_VERSION`` / ``_MINHASH_CODEC_VERSION`` close for
#: their stores). v2: the bucket spec is read back from each table's
#: ``_BUCKET_SPEC`` file.
_BUCKET_CODEC_VERSION = 2


def _bucket_store_path(sf_dir: str) -> str:
    """Bucketed-layout store key: the layout codec version on top of a
    fingerprint of BOTH source tables, so a regenerated-in-place corpus
    can never silently reuse stale bucketed files, and a change to the
    derivation arithmetic can never silently serve values computed
    under the old rules."""
    return store_path(
        "bucketed", sf_dir, ("lineitem", "orders"), f"v{_BUCKET_CODEC_VERSION}"
    )


@register(
    "join_bucketed_priority_revenue",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_priority_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """J3/S5 EXT / scale toolkit: the fact⋈fact join
    (lineitem⋈orders on the order key) through the BUCKETED layout —
    pay the shuffle once at write time, join exchange-free forever.
    ``write_bucketed`` persists both sides hashed into the same bucket
    count on the join key (the catalog proves co-partitioning), so the
    join plan carries NO Exchange on either side — the only shuffle in
    the whole query is the final tiny aggregate on 5 priority keys
    (plan pinned in tests/test_scale_ops.py; the layout itself in
    tests/test_bucketing_layout.py). At 100 TB this is the difference
    between re-shuffling 100 TB per query and never re-shuffling it.

    The write runs on first use per (sf dir, source fingerprint) and
    is reused after — ACROSS sessions: both tables are built into one
    store by ``ensure_store`` (tmp build, completeness marker, atomic
    publish), and a fresh session finding a complete store re-ATTACHES
    the files via ``register_bucketed`` (the spec written with them)
    instead of rewriting. Value neutrality IS the oracle: the
    registered SQL is the plain join.
    """
    import os

    from ..sources.bucketing import (
        co_located_join,
        register_bucketed,
        write_bucketed,
    )

    sides = {
        "lineitem": _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("orderkey"),
            (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
                "disc_price"
            ),
        ),
        "orders": _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
        ),
    }

    def build(tmp: str) -> None:
        # both sides need ONE count to join co-located
        for sub, df in sides.items():
            write_bucketed(df, os.path.join(tmp, sub), ("orderkey",), 8)

    base = ensure_store(_bucket_store_path(sf_dir), build)
    lt, ot = (
        register_bucketed(spark, f"bkt_{sub}", os.path.join(base, sub))
        for sub in sides
    )
    joined = co_located_join(spark, lt, ot, "orderkey")
    return joined.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.sum("disc_price").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
