"""Registered scale-toolkit queries (plans/scale_ops.py): the physical
rewrites must show up in the PLAN — value parity with the plain-SQL
oracles is covered by the oracle-parity sweep, so these tests pin what
the oracle cannot see: the salted two-phase shape, the split join's
broadcast/shuffle routing, and the bucketed join's missing exchanges.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark import plans

from conftest import SF_ORACLE


def _plan(df, mode: str = "formatted") -> str:
    # NB: "formatted" lists every operator twice (tree + details) —
    # use "simple" when COUNTING operator occurrences.
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_salted_agg_plan_has_two_aggregation_phases(spark):
    """The salted rollup must aggregate twice — once on (key, salt),
    once on the key — with the salt derived from a hash, not rand()
    (rand() breaks task retry determinism)."""
    df = plans.QUERIES["agg_skewed_revenue_salted"].fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 4  # partial+final × two phases
    assert "pmod" in plan and "hash" in plan
    assert "rand(" not in plan


def test_hot_key_split_plan_routes_hot_keys_through_broadcast(spark):
    """The split join must contain BOTH join strategies: a broadcast
    hash join for the declared hot keys and a non-broadcast join for
    the remainder, unioned."""
    df = plans.QUERIES["join_hot_key_split_revenue"].fn(spark, SF_ORACLE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "Union" in plan
    # the cold path keeps an equi-join that is NOT the broadcast one;
    # at test SF AQE may still choose broadcast for the small side, so
    # assert the structural split (two joins), not the cold strategy
    assert plan.count("Join") >= 2


def test_bucketed_join_query_plan_is_exchange_free_up_to_final_agg(spark):
    """join_bucketed_priority_revenue: the lineitem⋈orders join must
    read both sides from the bucketed layout with NO Exchange on
    either join input — the only shuffle allowed in the whole plan is
    the final partial→final aggregate on the 5 priority keys. As in
    tests/test_bucketing_layout.py, broadcast is disabled so the plan
    shown is the one the layout exists for (fact⋈fact at a scale where
    broadcast is impossible)."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        df = plans.QUERIES["join_bucketed_priority_revenue"].fn(
            spark, SF_ORACLE
        )
        assert "Bucketed: true" in _plan(df)
        plan = _plan(df, "simple")
        assert "SortMergeJoin" in plan
        # exactly ONE exchange: the final aggregate's. Neither join
        # side re-shuffles — that is the entire point of the layout.
        assert plan.count("Exchange") == 1, plan
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_q6_every_predicate_reaches_the_scan(spark):
    """agg_forecast_revenue_change (TPC-H Q6 shape): the whole point is
    that ALL THREE predicates — ship-date range, discount band,
    quantity cap — push into the parquet scan, so at scale only row
    groups whose stats overlap the band are read. The discount band
    compares decimals (cast column), which Spark cannot push as-is —
    the date range and the quantity cap must be in PushedFilters and
    the scan must read only the four referenced columns."""
    df = plans.QUERIES["agg_forecast_revenue_change"].fn(spark, SF_ORACLE)
    plan = _plan(df)
    pushed = next(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "l_shipdate" in pushed and "l_quantity" in pushed, pushed
    read = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    for col in ("l_shipdate", "l_quantity", "l_discount", "l_extendedprice"):
        assert col in read, read
    assert "l_orderkey" not in read  # column pruning held


def test_mattr_kernel_matches_definitional_recompute(spark):
    """The O(n) sliding MATTR kernel must equal the definitional
    O(n·W) recompute (set over every window) on adversarial token
    sequences: heavy repetition, all-distinct, shorter than the
    window, and exactly window-sized."""
    from smart_contract_database_builder_spark.plans.llm_ops import (
        _MATTR_W,
        _mattr_pandas,
    )

    cases = [
        ["a"] * 100,
        [f"t{i}" for i in range(100)],
        ["x", "y", "x"],
        [f"t{i % 7}" for i in range(_MATTR_W)],
        [f"t{i % 3}" for i in range(_MATTR_W * 4)],
        ["lone"],
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "id long, t array<string>"
    )
    got = {
        r["id"]: r["s"]
        for r in df.select("id", _mattr_pandas()("t").alias("s")).collect()
    }
    for i, toks in enumerate(cases):
        n = len(toks)
        w = min(_MATTR_W, n)
        expect = sum(
            len(set(toks[j : j + w])) for j in range(n - w + 1)
        )
        assert got[i] == expect, (i, got[i], expect)


def test_bucketed_store_reattaches_across_sessions_without_rewrite(spark):
    """The bucketed files outlive the in-memory catalog: simulate a
    fresh session by dropping the catalog entries, re-run the query,
    and assert the on-disk layout was RE-ATTACHED (file mtimes
    unchanged — no rewrite) while the plan still proves bucketing."""
    import os

    from smart_contract_database_builder_spark.plans.scale_ops import (
        _bucket_store_path,
    )
    from smart_contract_database_builder_spark.sources.bucketing import (
        bucketed_table,
    )

    plans.QUERIES["join_bucketed_priority_revenue"].fn(spark, SF_ORACLE)
    base = _bucket_store_path(SF_ORACLE)
    marker = os.path.join(base, "lineitem", "_SUCCESS")
    t0 = os.path.getmtime(marker)
    for sub in ("lineitem", "orders"):
        table = bucketed_table(f"bkt_{sub}", os.path.join(base, sub))
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    df = plans.QUERIES["join_bucketed_priority_revenue"].fn(spark, SF_ORACLE)
    assert os.path.getmtime(marker) == t0, "files rewritten instead of reused"
    assert "Bucketed: true" in _plan(df)
    assert df.count() == 5


def test_half_built_bucketed_store_is_rebuilt_not_attached(
    spark, tmp_path, monkeypatch
):
    """A crashed build of the bucketed fact tables — ``lineitem/`` with
    a per-table ``_SUCCESS`` and junk part-files, but no store-level
    completeness marker — must be rebuilt through the tmp-build +
    atomic publish path, never attached as if it were valid."""
    import os

    from smart_contract_database_builder_spark.plans.scale_ops import (
        _bucket_store_path,
    )
    from smart_contract_database_builder_spark.sources.store_root import (
        store_complete,
    )

    monkeypatch.setenv("SPARK_GRAFT_STORE_ROOT", str(tmp_path))
    base = _bucket_store_path(SF_ORACLE)
    lineitem = os.path.join(base, "lineitem")
    os.makedirs(lineitem)
    open(os.path.join(lineitem, "_SUCCESS"), "w").close()
    junk = os.path.join(lineitem, "part-00000-junk_00000.c000.snappy.parquet")
    with open(junk, "w") as fh:
        fh.write("not parquet")
    assert not store_complete(base)
    df = plans.QUERIES["join_bucketed_priority_revenue"].fn(spark, SF_ORACLE)
    assert df.count() == 5
    assert store_complete(base)
    assert not os.path.exists(junk), "crashed build was attached, not rebuilt"
    assert os.path.isdir(os.path.join(base, "orders"))


def test_reservoir_prefilter_fails_fast_when_margin_busts(spark, monkeypatch):
    """The hash-reservoir prefilter must never sample silently wrong:
    force a margin bust (threshold far too tight to keep K survivors)
    and assert the loud failure path fires."""
    import pytest

    from smart_contract_database_builder_spark.plans import llm_ops

    monkeypatch.setattr(llm_ops, "_RESERVOIR_MARGIN", 0.001)
    with pytest.raises(ValueError, match="margin busted"):
        llm_ops.llm_reservoir_sample_by_lang(spark, SF_ORACLE)


def test_kcore_matches_peel_to_fixpoint_recompute(spark):
    """Definitional recompute for llm_kcore_candidates: peel the LSH
    candidate graph in pure Python until a TRUE fixpoint (no round
    limit) and require the surviving (doc_id, degree) set to match the
    query EXACTLY. This pins both the peel arithmetic and the
    convergence claim — if _KCORE_ROUNDS unrolled rounds were ever too
    few for the fixpoint, the degree sets would diverge here before
    any oracle could notice (the oracle runs the same round count)."""
    from smart_contract_database_builder_spark.plans.llm_ops import _KCORE_K

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in plans.QUERIES["llm_minhash_lsh_pairs"].fn(
            spark, SF_ORACLE
        ).collect()
    ]
    adj: dict[str, set[str]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        keep = {n for n in alive if len(adj[n] & alive) >= _KCORE_K}
        if keep == alive:
            break
        alive = keep
    expected = {n: len(adj[n] & alive) for n in alive}

    rows = plans.QUERIES["llm_kcore_candidates"].fn(spark, SF_ORACLE).collect()
    got = {r["doc_id"]: r["core_degree"] for r in rows}
    assert got == expected
    assert all(d >= _KCORE_K for d in got.values())


def test_embedding_covariance_matches_numpy(spark):
    """Independent recompute: the fixed-point covariance/correlation
    must agree with numpy's float64 covariance (population, ddof=0) to
    quantization tolerance — this pins the SEMANTICS (centering,
    normalization, triangle indexing) independently of the shared
    cross-engine formula."""
    import numpy as np

    from smart_contract_database_builder_spark.sources.tables import (
        load_table,
    )

    X = np.array(
        [
            r["embedding"]
            for r in load_table(spark, SF_ORACLE, "embeddings")
            .orderBy("vec_id")
            .collect()
        ],
        dtype=np.float64,
    )
    # mirror the engine's 1e-6 quantization so tolerance is tight
    Xq = np.round(X, 6)
    C = np.cov(Xq, rowvar=False, ddof=0)
    R = C / np.sqrt(np.outer(np.diag(C), np.diag(C)))

    rows = plans.QUERIES["llm_embedding_covariance"].fn(spark, SF_ORACLE).collect()
    d = X.shape[1]
    assert len(rows) == d * (d + 1) // 2
    for r in rows:
        assert r["i"] <= r["j"]
        assert abs(r["cov"] - C[r["i"], r["j"]]) < 1e-9
        assert abs(r["corr"] - R[r["i"], r["j"]]) < 1e-9
    diag = {r["i"]: r["corr"] for r in rows if r["i"] == r["j"]}
    assert all(abs(v - 1.0) < 1e-12 for v in diag.values())


def test_mahalanobis_matches_numpy_recompute(spark):
    """Full independent recompute of llm_embedding_mahalanobis: build
    the quantized covariance, ridge-regularize, invert, and score all
    vectors in numpy; the query's top-K (ids AND scores) must agree to
    float tolerance, and two invocations must agree exactly."""
    import numpy as np

    from smart_contract_database_builder_spark.plans.llm_ops import (
        _MAHA_RIDGE,
        _MAHA_TOPK,
    )
    from smart_contract_database_builder_spark.sources.tables import (
        load_table,
    )

    rows = (
        load_table(spark, SF_ORACLE, "embeddings").orderBy("vec_id").collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Xq = np.round(X, 6)
    C = np.cov(Xq, rowvar=False, ddof=0)
    mu = Xq.mean(axis=0)
    cinv = np.linalg.inv(C + _MAHA_RIDGE * np.eye(X.shape[1]))
    Y = X - mu
    m2 = np.einsum("ij,ij->i", Y @ cinv, Y)
    order = np.lexsort((ids, -m2))[:_MAHA_TOPK]
    expected = {int(ids[k]): m2[k] for k in order}

    got = plans.QUERIES["llm_embedding_mahalanobis"].fn(spark, SF_ORACLE).collect()
    assert len(got) == _MAHA_TOPK
    assert [r["vec_id"] for r in got] == [int(ids[k]) for k in order]
    for r in got:
        assert abs(r["m2"] - expected[r["vec_id"]]) < 1e-6 * max(
            1.0, abs(expected[r["vec_id"]])
        )

    again = plans.QUERIES["llm_embedding_mahalanobis"].fn(spark, SF_ORACLE).collect()
    assert [(r["vec_id"], r["m2"]) for r in got] == [
        (r["vec_id"], r["m2"]) for r in again
    ]
