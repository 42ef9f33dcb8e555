"""Plan-hygiene lint: every registered query's physical plan is checked
for scale red flags. A CartesianProduct anywhere, or a nested-loop join
outside the explicit allowlist, fails the build — this is the
regression guard for the 100 TB design rules (broadcast only bounded
sides, equi-keys carry every large join)."""

from __future__ import annotations

import pytest

from smart_contract_database_builder_spark import plans

from conftest import SF_ORACLE

#: Queries where a BroadcastNestedLoopJoin is the INTENDED plan: the
#: broadcast side is provably tiny (a 1-row query vector / scalar count
#: or a k-row centroid table), so the "nested loop" is a constant-cost
#: map-side enrich, not a quadratic join.
_NESTED_LOOP_ALLOWED = {
    "llm_cosine_topk_bruteforce",  # 1-row query vector broadcast
    "llm_ivf_topk",                # 1-row query + k-cell centroid broadcast
    "llm_tfidf_top_terms",         # 1-row corpus-size scalar broadcast
    "llm_knn_join_topk",           # Q-row query-set broadcast (Q = 3)
    "llm_vocab_coverage",          # 1-row total-token-count broadcast
    "llm_bm25_topk",               # 1-row corpus-stats (N, Σdl, df) broadcast
    "llm_bm25_batch_topk",         # 1-row corpus-stats broadcast (batch)
    "llm_pq_topk",                 # 1-row codebook + query-row broadcast
    "llm_pps_sample_by_tokens",    # 1-row total-token-count broadcast
    "llm_hybrid_rrf_fusion",       # inherits llm_bm25_topk's stats broadcast
    "llm_unigram_surprisal",       # 1-row (N, V) corpus-stats broadcast
    "llm_heavy_hitters",           # 1-row token-total broadcast onto candidates
    "llm_pmi_collocations",        # 1-row bigram-total broadcast
    "agg_data_quality_report",     # six 1-row check aggregates cross-joined
    "llm_ann_recall_report",       # fixed-size (K=500) truth-sample self-join
    "agg_important_parts",         # 1-row global-total scalar broadcast
    "agg_mad_outliers",            # 1-row median + 1-row MAD broadcasts
    "llm_bpe_train_merges",        # 1-row argmax-pair broadcast per merge
    "llm_bpe_segment_vocab",       # same trainer state (1-row per merge)
    "llm_zipf_slope_report",       # 100-row top-terms regression input
    "agg_event_type_lift",         # 1-row distinct-user-count broadcast
    "agg_idle_rich_customers",     # 1-row avg-balance threshold broadcast
    "llm_ivfpq_topk",              # 1-row packed cell table + query row
    "llm_ivfpq_encoded_topk",      # same 1-row query/cells broadcast, read path
    "agg_weekday_seasonality",     # 1-row grand-total broadcast
    "agg_rolling_wau",             # O(days) axis broadcast, range join
    "agg_dau_wau_stickiness",      # same O(days) axis broadcast range join
    "agg_rfm_segments",            # 1-row recency-anchor (max date) broadcast
    "llm_bigram_surprisal_docs",   # 1-row smoothing-vocabulary (V) broadcast
    "llm_source_kl_divergence",    # 1-row corpus-total (N) broadcast
    "llm_ctfidf_by_lang",          # 1-row (total_tok, n_langs) broadcast
    "llm_dsir_importance",         # two 1-row gram-total broadcasts
    "llm_contrastive_pairs",       # anchor-slice broadcast (knn-join shape)
    "llm_nb_langid",               # langs × bucket-domain model build (≤1.3k rows)
    "llm_embedding_sq8_error",     # 1-row packed per-dim quantizer broadcast
    "agg_event_drift_report",      # 1-row epoch-midpoint broadcast
    "agg_event_daily_anomaly",     # 1-row median + 1-row MAD broadcasts
    "llm_centroid_shift_by_label", # 1-row corpus-count (n_all) broadcast
    "llm_vocab_coverage_curve",    # 1-row corpus-total (n, v) broadcast
    "llm_dedup_threshold_sweep",   # 1-row corpus-count broadcast onto 5-row axis
    "llm_sign_hamming_topk",       # 1-row query-sketch broadcast
    "llm_cross_source_neardup_matrix",  # 1-row pair-total broadcast
    "stream_watermark_late_audit", # 1-row event-total broadcast
    "llm_ivf_cell_balance",        # 1-row (n_cells, n_all) totals broadcast
    "agg_brand_affinity_lift",     # 1-row order-total broadcast
    "llm_embedding_coverage_audit",  # four 1-row count aggregates cross-joined
    "llm_media_payload_dedup",     # 1-row max-id offset broadcast (re-crawl view)
    "llm_media_payload_dedup_raw",  # same 1-row max-id offset broadcast
    "llm_upsample_plan_integer",   # 1-row (t_max, n_sources) + 1-row total broadcasts
    "llm_decontaminate_ngram_sweep",  # 1-row corpus-doc-count broadcast
    "stream_watermark_state_audit",  # 1-row stream-max broadcast
    "stream_shard_merge_lateness",  # 1-row late-stats x 1-row total broadcast
    "stream_shard_merge_lateness_approx",  # same 1-row broadcasts, t-digest twin
    "llm_substring_run_histogram",  # 1-row dup-total broadcast onto the histogram
    "llm_shard_mixing_audit",      # 1-row corpus-count broadcast onto the cells
    "stream_session_gap_sweep",    # 3-row gap axis + two 1-row totals broadcasts
    "agg_theil_inequality_decomposition",  # 1-row global (S, n) totals broadcast
    "layout_zonemap_pruning_audit",  # 1-row day-bounds + 4-row probe-axis broadcasts
    "stream_shard_watermark_skew",   # 1-row global-frontier broadcast onto shards
    # round 16
    "agg_ks_two_sample",           # 1-row (n1,n2) + 1-row max-gap + 1-row argmax broadcasts
    "agg_chi_square_independence",  # 1-row n/row-count/col-count totals cross-joined
    "agg_weekday_anova",           # 1-row Σx² quantized-total broadcast
    "layout_zorder_benefit_audit",  # 1-row dim-bounds + 3-row probe-axis broadcasts
    "llm_epoch_mix_schedule",      # 1-row (budget, weight-total) broadcast
    "llm_neardup_source_modularity",  # 1-row edge-total + 1-row Q broadcasts; O(sources)×pairs degree axis
    "llm_quality_dup_calibration",  # 1-row corpus base-rate broadcast onto bins
    "stream_dedup_horizon_sweep",  # 1-row event-total broadcast onto the 3-row axis
    # round 17
    "agg_kendall_tau_daily",       # O(days)×O(days) date-domain-bounded pair join + 1-row n_days broadcast
    "agg_theilsen_trend_slope",    # same bounded day-pair join + two 1-row (median, pair-count) broadcasts
    "agg_changepoint_best_split",  # 1-row (n, S) totals broadcast onto the O(days) axis
    "agg_runs_test_daily",         # 1-row lower-median broadcast onto the day axis
    "agg_autocorr_daily_revenue",  # 3-row lag axis + 1-row totals broadcasts (pairs join is EQUI on shifted date)
    "agg_quantile_treatment_effect",  # 1-row (n1,n2) + 9-row decile-axis broadcasts
    "join_er_duplicate_listings",  # 1-row Fellegi-Sunter weight-table broadcast
    "llm_hash_collision_audit",    # two 1-row count broadcasts onto the O(bits) rollup
    "llm_source_loo_quality_shift",  # 1-row corpus-total broadcast onto O(sources)
    # round 17 session 2
    "agg_kaplan_meier_reorder",    # 1-row censor-anchor (corpus max date) broadcast
    "agg_return_rate_fdr_bh",      # 1-row totals + 1-row BH-cutoff broadcasts onto O(nations)
    "agg_event_weekday_mutual_info",  # 1-row total + two 1-row entropy broadcasts onto O(cells)
    "llm_isotonic_quality_calibration",  # O(B<=11) bounded bin-axis triangle joins + 1-row SSE broadcast
    "llm_retrieval_eval_report",   # fixed Q-row query-panel broadcast (knn-join shape) + 1-row count
    "agg_logrank_reorder_by_segment",  # 1-row censor-anchor + 1-row pooled-statistic broadcasts
}

#: Queries whose fn() triggers side effects/execution rather than just
#: building a plan worth linting.
_SKIP = {
    "ref_sink_roundtrip",               # materialized via pin
    "stream_true_tumbling_availablenow",  # executes a streaming query
    "stream_true_point_in_time",        # executes a streaming query
    "stream_stateful_running_totals",   # executes a streaming query
    "stream_true_scd2_closed",          # executes a streaming query
    "stream_true_neardup_admission",    # executes a streaming query
}


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


@pytest.mark.parametrize(
    "name", sorted(n for n in plans.QUERIES if n not in _SKIP)
)
def test_no_unexpected_cartesian_or_nested_loop(spark, name):
    df = plans.QUERIES[name].fn(spark, SF_ORACLE)
    plan = _explain(df)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    if name not in _NESTED_LOOP_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join outside the allowlist"
        )
    # UDFs are the slow path, and ROW-AT-A-TIME Python UDFs the
    # slowest: every Python boundary in the registry must be
    # Arrow-batched (ArrowEvalPython / mapInPandas / applyInPandas) —
    # a bare BatchEvalPython node means a per-row pickle round-trip
    # crept into a registered plan. BatchEvalPythonUDTF is exempt:
    # per-row evaluation IS the Python-UDTF operator semantic, and the
    # one registered UDTF (U8) exists to demonstrate exactly that
    # surface, with the Catalyst chunker as its scale twin.
    import re

    assert not re.search(r"BatchEvalPython(?!UDTF)", plan), (
        f"{name}: row-at-a-time Python UDF in plan"
    )


def test_hot_relational_paths_run_in_whole_stage_codegen(spark):
    """The scan→filter→project→partial-aggregate spine of the headline
    relational queries must sit INSIDE WholeStageCodegen spans: these
    are pure JVM expression pipelines, and an interpreter fallback
    there (codegen disabled or an unsupported expression splitting the
    span) would be a silent multi-× regression at 100 TB. AQE hides
    the '*(n)' markers until the plan is final, so the assertion runs
    on the EXECUTED plan."""
    for name in ("agg_pricing_summary", "flagship_revenue_by_region",
                 "agg_forecast_revenue_change"):
        df = plans.QUERIES[name].fn(spark, SF_ORACLE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE's toString appends the UNSTARRED "Initial Plan" section
        # after the final one — lint only the plan that actually ran
        plan = plan.split("== Initial Plan ==")[0]
        # '*(n)' prefixes are how the executed plan marks operators
        # inside a WholeStageCodegen span
        assert "*(" in plan, f"{name}: no WholeStageCodegen span at all"
        ha = [ln for ln in plan.splitlines() if "HashAggregate" in ln]
        assert ha and all("*(" in ln for ln in ha), (
            f"{name}: aggregate outside codegen: {ha}"
        )


def test_ngram_jaccard_single_explode_reuse(spark):
    """llm_ngram_jaccard_topk must explode the corpus's shingles at
    most ONCE per run (the r3 version re-exploded it inside the
    signature stage; the r17 form shared one exchange via
    ReusedExchange; the r18 form materializes ONE packed per-doc
    shingle-array relation, so the final plan contains NO shingle
    Generate at all — the single explode ran in the materialization
    job). Pin the invariant at its intent: the executed plan may carry
    at most one Generate."""
    df = plans.QUERIES["llm_ngram_jaccard_topk"].fn(spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # the only FileScans allowed in the verify plan are the S21 band
    # store's (whose two band-array explodes are the store READ path,
    # not corpus work): a documents scan here would mean the corpus
    # tokenize+explode re-entered the per-consumer plans
    doc_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "documents" in ln
    ]
    assert not doc_scans, (
        "documents re-scanned in the verify plan — the packed docsets "
        f"relation is no longer shared: {doc_scans[:2]}"
    )
    assert "Scan ExistingRDD" in plan  # the materialized docsets read


def test_curation_pipeline_scans_and_tokenizes_once(spark):
    """llm_curation_pipeline persists ONE hash-partitioned tokenized
    relation and derives every stage (quality rules, dedup content key,
    decontamination, n_tok) from it. The final plan must therefore show
    exactly one FileScan of documents — unfiltered, feeding the cache —
    and exactly one tokenize site. Exchange reuse cannot pin this
    (Catalyst pushes each stage's doc_id filters below a shared
    repartition, splitting it into per-stage scans), so the cache
    barrier is the contract."""
    df = plans.QUERIES["llm_curation_pipeline"].fn(spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("InMemoryTableScan") >= 1, (
        "tokenized relation no longer cached: the corpus is being "
        "re-scanned and re-tokenized per curation stage"
    )
    import re

    scans = re.findall(r"FileScan parquet[^\n]*", final)
    assert len(scans) == 1, f"expected ONE documents scan, got: {scans}"
    assert "DataFilters: []" in scans[0], (
        "the cache-feeding scan must be unfiltered (every stage's "
        "predicate applies to the cached relation, not its own scan)"
    )
    assert final.count("split(trim(lower") == 1, (
        "tokenize expression appears more than once in the final plan"
    )


def test_bm25_batch_single_pass_and_group_limit(spark):
    """llm_bm25_batch_topk's contract: ALL queries in the batch score in
    ONE corpus pass (two FileScans total: the TF relation + the stats
    aggregate's scan — no per-query passes), and the per-query top-k
    runs under WindowGroupLimit so only ~k rows per query per map
    partition reach the (query_id)-keyed shuffle."""
    df = plans.QUERIES["llm_bm25_batch_topk"].fn(spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    import re

    scans = re.findall(r"FileScan parquet", final)
    assert len(scans) <= 2, (
        f"batch BM25 should make one corpus pass (+1 stats scan), "
        f"found {len(scans)} scans"
    )
    assert "WindowGroupLimit" in plan, (
        "per-query top-k no longer runs as a map-side group limit"
    )


@pytest.mark.parametrize(
    "name", ["llm_token_entropy", "llm_unigram_surprisal"]
)
def test_micro_nat_ops_scan_and_explode_once(spark, name):
    """The micro-nat text scorers persist ONE (doc, term) count relation
    and derive every branch (distinct ln-lookup values, per-doc
    lengths, corpus term frequencies, the scoring join) from it — the
    executed plan must show exactly one FileScan of documents and at
    least one InMemoryTableScan. Without the cache barrier Catalyst
    re-derives each branch from its own corpus scan+explode (measured
    10 scans for entropy before the fix; 3.6× slower at the 10×
    probe)."""
    df = plans.QUERIES[name].fn(spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("InMemoryTableScan") >= 1, (
        f"{name}: (doc, term) relation no longer cached"
    )
    import re

    scans = re.findall(r"FileScan parquet[^\n]*", final)
    assert len(scans) <= 1, (
        f"{name}: expected at most ONE documents scan in the final "
        f"plan (the cache build), got: {scans}"
    )


def test_curation_pipeline_v2_scans_and_tokenizes_once(spark):
    """The v2 pipeline (readability stage composed in) must keep v1's
    single-scan contract: one unfiltered documents FileScan feeding the
    cache, one tokenize site — the readability counts ride the same
    scan as per-row ints, never a second corpus pass."""
    import re

    df = plans.QUERIES["llm_curation_pipeline_v2"].fn(spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("InMemoryTableScan") >= 1
    scans = re.findall(r"FileScan parquet[^\n]*", final)
    assert len(scans) == 1, f"expected ONE documents scan, got: {scans}"
    assert "DataFilters: []" in scans[0]
    assert final.count("split(trim(lower") == 1


def test_kmv_rank_limit_is_pushed_into_the_sort(spark):
    """llm_kmv_distinct_audit's scale claim: the rn <= k filter over
    the per-source hash window must optimize to WindowGroupLimit
    (partial map-side + final), so each map task forwards at most k
    rows per source — the per-source sort never sees the full
    distinct-hash relation. A plan without the node silently degrades
    to a full per-source sort at 100 TB."""
    df = plans.QUERIES["llm_kmv_distinct_audit"].fn(spark, SF_ORACLE)
    plan = _explain(df)
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_media_budget_never_touches_payload_bytes(spark):
    """llm_media_sampling_budget's claim: the plan is metadata-only.
    Column pruning must reach the scan (ReadSchema carries doc_id
    only — no text) AND prune the payload CONSTRUCTION itself (the
    md5→unhex hash-chain that builds the binary column must be absent
    from the optimized plan): the sizing query costs id arithmetic,
    never payload bytes."""
    df = plans.QUERIES["llm_media_sampling_budget"].fn(spark, SF_ORACLE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and all("text" not in ln for ln in reads), reads
    assert "unhex" not in plan, "payload construction not pruned"


def test_trade_matrix_broadcasts_the_dims(spark):
    """join_nation_trade_matrix's Q7 spine: both 25-row nation dims
    must enter as broadcast joins (never shuffle a fact side against
    a dim), and no cartesian appears."""
    df = plans.QUERIES["join_nation_trade_matrix"].fn(spark, SF_ORACLE)
    plan = _explain(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan
