"""Physical-plan regression gates.

Correctness is oracle-gated; these pin the PLAN properties the 100 TB design
depends on, so a refactor can't silently regress them:

- reference-parity queries stay UDF-free (whole-stage codegen JVM execution);
- column pruning reaches the parquet scan for key queries;
- small dimensions broadcast; the sessionization plan keeps ONE shuffle.
"""

from __future__ import annotations

import re

import pytest

from energy_data_stream_processing_spark.plans.catalog import all_queries

# Reference-parity + relational queries: zero Python on the hot path.
UDF_FREE = [
    "hourly_business_metrics",
    "rolling_24h_metrics",
    "customer_view",
    "business_kpis_growth",
    "pricing_insights",
    "user_sessions",
    "pricing_summary",
    "top_customer_revenue",
    "shipping_priority",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "embedding_cosine_topk",
    "local_supplier_volume",
    "volume_shipping",
    "market_share",
    "returned_items",
    "promo_revenue",
    "top_supplier",
    "small_quantity_revenue",
    "large_volume_customers",
    "wealthy_inactive_customers",
    "props_numeric_profile",
    "hourly_gap_fill",
    "event_type_hour_cube",
    "user_value_tiers",
    "label_centroids",
    "forecast_revenue_change",
    "price_bucket_histogram",
    "strict_service_orders",
    "user_activity_islands",
    "time_weighted_value",
    "top_value_days_per_user",
    "stratified_sample_summary",
    "train_val_test_split",
    "label_cap_sample",
    "vocab_topk",
    "repetition_profile",
    "cross_source_contamination",
    "length_band_filter",
    "event_grouping_sets",
    "sequence_packing_audit",
    "embedding_quantization_audit",
    "brand_quantity_revenue",
    "linestatus_priority_counts",
    "sole_blame_suppliers",
    "doc_chunk_audit",
    "hard_negative_mining",
    "pii_redaction_audit",
    "mixture_temperature_sample",
    "ngram_decontamination",
    "line_dedup_audit",
    "ops_events_rate",
    "ops_latency_p95",
    "weighted_reservoir_sample",
    "revenue_reconciliation",
    "key_skew_profile",
    "dedup_ngram_containment",
    "asof_tolerance_tariff",
    "k_anonymity_audit",
    "vintage_drift_psi",
    "kfold_assignment",
    "approx_percentile_audit",
    "zorder_layout_audit",
    "unigram_surprisal_filter",
    "asof_forward_next_switch",
    "embedding_dim_profile",
    "cross_source_dup_matrix",
    "ngram_novelty_curve",
    "funnel_conversion_latency",
    "tariff_revenue_attribution",
    "dedup_cluster_keep_best",
    "cohort_ltv_curves",
    "consumption_payment_regression",
    "inter_event_gap_profile",
    "hour_of_week_seasonality",
    "zipf_vocab_fit",
    "burstiness_index",
    "lang_id_confusion",
    "seasonal_anomaly_zscore",
    "embedding_norm_outliers",
    "dup_rate_by_source",
    "session_type_cooccurrence",
    "weekly_active_users_growth",
    "last_touch_attribution",
    "customer_rfm_scores",
    "load_duration_curve",
    "tariff_migration_matrix",
    "data_outage_report",
    "revenue_pareto_concentration",
]

# Dense-math operators where an Arrow-vectorized UDF is the DESIGN (numpy
# batch kernels); still must never fall back to row-at-a-time Python.
VECTORIZED = ["dedup_minhash_lsh", "ann_lsh_topk", "ann_ivf_topk"]


def _plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name].builder(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _data_exchanges(plan: str) -> list[str]:
    """Exchange nodes that move DATA for the query's own join/agg/window
    structure — i.e. every Exchange except the adapter's layout-adaptive
    RoundRobinPartitioning scan rebalance (round 16, sources/adapter.py
    _maybe_parallelize_scan), which exists only on compact local layouts
    and prices to a no-op at production scale."""
    return [
        l for l in plan.splitlines()
        if "Exchange " in l and "RoundRobinPartitioning" not in l
    ]


@pytest.mark.parametrize("name", UDF_FREE)
def test_no_python_udf_in_hot_path(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, f"{name} fell back to row-at-a-time Python"
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, (
        f"{name} unexpectedly uses a Pandas UDF — reference-parity queries "
        "must stay JVM-side"
    )


@pytest.mark.parametrize("name", VECTORIZED)
def test_vectorized_never_row_at_a_time(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, f"{name} fell back to row-at-a-time Python"
    assert "ArrowEvalPython" in plan, f"{name} lost its vectorized kernel"


def test_pruning_and_pushdown_reach_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    # plan strings truncate long FileScan lines with '...': drop the final
    # (possibly partial) token before asserting.
    schemas = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    assert schemas, "no parquet scan found"
    cols = {c.split(":")[0] for s in schemas for c in s.split(",")[:-1] if c}
    allowed = {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    }
    assert cols <= allowed, f"pricing_summary scan reads extra columns: {cols - allowed}"
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, (
        "shipdate range filter did not push down to the parquet scan"
    )


def test_dimension_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_customer_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sessionization_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "user_sessions")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, (
        "sessionize must reuse the user_id partitioning for window + groupBy"
    )


def test_six_table_join_single_smj(spark, sf_dir):
    # Q5 shape: every dimension broadcasts; the only shuffle join is the
    # orders<->lineitem fact-fact leg. A regression that drops a broadcast
    # hint (or breaks its small-side placement) shows up as a second SMJ.
    plan = _plan(spark, sf_dir, "local_supplier_volume")
    assert len(re.findall(r"SortMergeJoin", plan)) <= 1, (
        "local_supplier_volume grew a second shuffled join — a dimension "
        "lost its broadcast"
    )
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 4


def test_having_cohort_broadcast_semi(spark, sf_dir):
    # Q18 shape: the HAVING-filtered cohort is tiny and must semi-join by
    # broadcast so the lineitem fact is not shuffled for the filter.
    plan = _plan(spark, sf_dir, "large_volume_customers")
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), (
        "large-volume cohort is no longer a broadcast semi-join"
    )


def test_anti_join_date_filter_pushdown(spark, sf_dir):
    # Q22 shape: the anti-join's date restriction must reach the orders scan
    # (not evaluate post-join).
    plan = _plan(spark, sf_dir, "wealthy_inactive_customers")
    assert "GreaterThanOrEqual(o_orderdate" in plan, (
        "orders date filter did not push down to the parquet scan"
    )


def test_q6_all_predicates_pushed(spark, sf_dir):
    # Q6 is pure scan+agg: every predicate and the 4-column projection must
    # reach the parquet scan, and no shuffle exists besides the single-row
    # final aggregate.
    plan = _plan(spark, sf_dir, "forecast_revenue_change")
    # The FileScan's PushedFilters list is '...'-truncated in the plan string,
    # so assert on the (untruncated) Filter node plus the pushdown prefix.
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    for pred in (
        r"l_shipdate#\d+ >= 1994-01-01",
        r"l_shipdate#\d+ < 1995-01-01",
        r"l_discount#\d+ >= 0.05",
        r"l_discount#\d+ <= 0.07",
        r"l_quantity#\d+ < 24.0",
    ):
        assert re.search(pred, plan), f"forecast_revenue_change lost predicate: {pred}"
    schemas = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    cols = {c.split(":")[0] for s in schemas for c in s.split(",")[:-1] if c}
    allowed = {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    assert cols <= allowed, f"forecast_revenue_change reads extra columns: {cols - allowed}"
    # Pure scan+agg: the only DATA exchange is the single-row final
    # aggregate. (RoundRobinPartitioning is the adapter's layout-adaptive
    # scan rebalance — round 16, sources/adapter.py — not a data shuffle
    # the query added; it prices to a no-op on production layouts.)
    assert len(_data_exchanges(plan)) == 1
    assert "Exchange SinglePartition" in plan


def test_time_weighted_single_shuffle(spark, sf_dir):
    # lead() window and groupBy both hash on user_id — one reused Exchange.
    plan = _plan(spark, sf_dir, "time_weighted_value")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, (
        "time_weighted_value: the user_id partitioning is no longer reused"
    )


def test_islands_two_stage_dedup(spark, sf_dir):
    # The RIGHT 100 TB plan is two exchanges: the (user_id, d) distinct keeps
    # map-side partial dedup (first shuffle carries deduped pairs, not raw
    # events), then the already-tiny day set reshuffles on user_id alone for
    # the streak window. Collapsing to one user_id exchange would ship raw
    # rows — pin the two-stage shape.
    plan = _plan(spark, sf_dir, "user_activity_islands")
    assert len(re.findall(r"Exchange hashpartitioning\(user_id#\d+L?, d#", plan)) == 1
    assert len(re.findall(r"Exchange hashpartitioning\(user_id#\d+L?, \d+\)", plan)) == 1


def test_topk_per_group_rank_pushdown(spark, sf_dir):
    # Spark 3.5 WindowGroupLimit: the rk<=3 filter must push a PARTIAL top-3
    # below the user_id shuffle, so each map task ships at most 3 days/user.
    plan = _plan(spark, sf_dir, "top_value_days_per_user")
    assert re.search(r"WindowGroupLimit .*row_number\(\), 3, Partial", plan), (
        "top_value_days_per_user lost the partial rank-limit pushdown"
    )
    assert re.search(r"WindowGroupLimit .*row_number\(\), 3, Final", plan)


def test_label_cap_no_global_window(spark, sf_dir):
    # Per-label cap: the rank window must partition by label — a global
    # (unpartitioned) window would serialize the whole table through one
    # task. (No WindowGroupLimit here on purpose: the audit counts every
    # row, so a top-K pushdown would be incorrect.)
    plan = _plan(spark, sf_dir, "label_cap_sample")
    assert re.search(r"Window \[row_number\(\) windowspecdefinition\(label#", plan), (
        "label_cap_sample's rank window is no longer partitioned by label"
    )
    assert "WindowGroupLimit" not in plan


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    # The top-200 must be TakeOrderedAndProject, not a global Sort+Limit.
    plan = _plan(spark, sf_dir, "vocab_topk")
    assert "TakeOrderedAndProject" in plan, "vocab_topk fell back to a global sort"


def test_disjunctive_predicate_factored_to_both_scans(spark, sf_dir):
    # Q19 shape: Catalyst must factor the per-side implications out of the
    # OR-of-ANDs — each side's scan gets its own pushed Or(...) filter — and
    # the part side must broadcast so the fact never shuffles.
    plan = _plan(spark, sf_dir, "brand_quantity_revenue")
    pushed = re.findall(r"PushedFilters: \[[^\n]*", plan)
    assert any("Or(" in p and "l_quantity" in p for p in pushed), (
        "lineitem scan lost the factored quantity-range Or filter"
    )
    assert any("Or(" in p and "p_brand" in p for p in pushed), (
        "part scan lost the factored brand/size Or filter"
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan, (
        "Q19 shape needs zero shuffles: broadcast join + single-row agg"
    )


def test_linestatus_priority_shipdate_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "linestatus_priority_counts")
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in plan, (
        "shipdate range did not push down to the lineitem scan"
    )
    schemas = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    cols = {c.split(":")[0] for s in schemas for c in s.split(",")[:-1] if c}
    assert cols <= {"l_orderkey", "l_linestatus", "l_shipdate", "o_orderkey", "o_orderpriority"}, (
        f"scan reads extra columns: {cols}"
    )


def test_sole_blame_single_fact_scan(spark, sf_dir):
    # Q21 shape: the whole point of the rewrite is ONE scan of lineitem (the
    # classic EXISTS + NOT EXISTS form scans it three times) and no shuffled
    # self-join.
    plan = _plan(spark, sf_dir, "sole_blame_suppliers")
    li_scans = [s for s in re.findall(r"FileScan parquet \[([^\]]*)", plan) if "l_orderkey" in s]
    assert len(li_scans) == 1, f"expected exactly one lineitem scan, got {len(li_scans)}"
    assert "SortMergeJoin" not in plan, "self-join crept back in"


def test_chunking_narrow_until_final_agg(spark, sf_dir):
    # The chunk explode must stay narrow: the only exchanges belong to the
    # final per-source aggregate (two-phase because of count_distinct).
    plan = _plan(spark, sf_dir, "doc_chunk_audit")
    assert "Generate explode" in plan or "Generate posexplode" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2
    assert "Join" not in plan


def test_hard_negatives_broadcast_nlj(spark, sf_dir):
    # Non-equi (label-mismatch) join against a tiny broadcast query set —
    # must be a BroadcastNestedLoopJoin, never a shuffled cartesian.
    plan = _plan(spark, sf_dir, "hard_negative_mining")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_retention_dedup_pairs_before_window(spark, sf_dir):
    # The fact-sized shuffle must carry deduped (user, week) pairs, not raw
    # events, and the cohort window must ride the user partitioning.
    plan = _plan(spark, sf_dir, "retention_cohorts")
    assert re.search(r"Exchange hashpartitioning\(user_id#\d+L?, wk#", plan), (
        "retention_cohorts lost the (user_id, wk) pairs dedup shuffle"
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3
    schemas = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    cols = {c.split(":")[0] for s in schemas for c in s.split(",")[:-1] if c}
    assert cols <= {"ts", "user_id"}, f"retention scan reads extra columns: {cols}"


def test_rolling7d_explode_after_dedup(spark, sf_dir):
    # The x7 contribution explode must sit ABOVE the (day, user) dedup (so it
    # multiplies deduped pairs, not raw events), and the observed-days spine
    # must come back as a broadcast semi join, never a shuffled join.
    plan = _plan(spark, sf_dir, "rolling_7d_active_users")
    assert "Generate explode(sequence(" in plan
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan, re.DOTALL), (
        "rolling_7d spine filter is no longer a broadcast semi join"
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 4


def test_ordered_funnel_single_shuffle(spark, sf_dir):
    # Three stacked conditional-min windows + the per-user rollup must all
    # share ONE user_id exchange; only the final global count repartitions.
    plan = _plan(spark, sf_dir, "ordered_event_funnel")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, (
        "ordered_event_funnel: stage windows no longer share the user_id exchange"
    )
    assert len(re.findall(r"\bWindow ", plan)) == 3


def test_scd2_single_exchange(spark, sf_dir):
    # One customer_id DATA shuffle (the adapter's round-robin scan
    # rebalance is exempt); the tariff_switch filter must reach the scan
    # through the adapter projection.
    plan = _plan(spark, sf_dir, "scd2_tariff_history")
    assert len(_data_exchanges(plan)) == 1


def test_copurchase_no_self_join(spark, sf_dir):
    # Single fact scan: baskets via collect_set (map-side partial dedup),
    # pairs generated array-side — the oracle's self-join shape must never
    # appear; top-20 must be TakeOrderedAndProject, not a global sort.
    plan = _plan(spark, sf_dir, "copurchase_pairs")
    assert "SortMergeJoin" not in plan and "Join" not in plan
    assert plan.count("FileScan parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2


def test_tfidf_rank_pushdown_and_no_fact_rejoin(spark, sf_dir):
    # df comes from a count window over the tf frame (no join back to the
    # token explode), N is a broadcast 1-row frame, and the per-doc top-3
    # must push a partial rank limit below the doc_id shuffle.
    plan = _plan(spark, sf_dir, "tfidf_top_terms")
    assert re.search(r"WindowGroupLimit .*row_number\(\), 3, Partial", plan)
    assert re.search(r"WindowGroupLimit .*row_number\(\), 3, Final", plan)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3
    assert "SortMergeJoin" not in plan


def test_profile_single_scan(spark, sf_dir):
    # All 25 per-column stats from ONE scan; the long form comes from a
    # Generate (stack/UNPIVOT) over the single wide row, never a re-scan
    # or a per-column union.
    plan = _plan(spark, sf_dir, "events_profile")
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan
    assert "Generate stack" in plan


def test_anomaly_moments_broadcast(spark, sf_dir):
    # The per-type moments frame is |event types| rows — it must come back
    # as a broadcast join onto the hourly counts, never a shuffled join.
    plan = _plan(spark, sf_dir, "hourly_anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_cascade_single_fact_scan(spark, sf_dir):
    # hour -> day -> week must cascade (each grain aggregates the previous
    # grain's frame via the persisted cache); a branch whose FIRST scan is a
    # direct FileScan would mean that grain re-reads the fact. (The plan
    # string renders each InMemoryRelation's build plan inline, so counting
    # raw FileScan occurrences over-counts — walk each union branch instead.)
    plan = _plan(spark, sf_dir, "energy_rollup_cascade")
    branches = re.split(r"\n   [:+]- ", plan)[1:]
    assert len(branches) == 3
    for b in branches:
        first_scan = re.search(r"InMemoryTableScan|FileScan", b)
        assert first_scan is not None and first_scan.group(0) == "InMemoryTableScan", (
            "energy_rollup_cascade branch re-reads the fact instead of the "
            "previous grain's cached frame"
        )


def test_fk_audit_lineitem_single_scan(spark, sf_dir):
    # The three lineitem relationship checks share one fact scan; dimension
    # parents broadcast (the lineitem->orders fact-fact leg may shuffle).
    plan = _plan(spark, sf_dir, "fk_integrity_audit")
    assert plan.count("FileScan parquet [l_orderkey") == 1, (
        "fk_integrity_audit scans lineitem more than once"
    )
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 4


def test_nation_product_profit_broadcasts(spark, sf_dir):
    # part/supplier/nation broadcast; lineitem<->orders is the one shuffled
    # fact-fact join.
    plan = _plan(spark, sf_dir, "nation_product_profit")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 3
    assert "BatchEvalPython" not in plan


def test_collocation_pmi_two_corpus_scans(spark, sf_dir):
    # Unigram + bigram passes scan documents; every OTHER consumer reads the
    # persisted small count tables (nu/nb derive from them), so exactly two
    # direct corpus scans appear outside InMemoryRelation build plans.
    plan = _plan(spark, sf_dir, "collocation_pmi")
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_gram_matrix_partial_reduce(spark, sf_dir):
    # Quantization stays JVM-side; the numpy partial Gram runs as
    # MapInPandas; the only shuffle after it is the tiny (i, j) merge.
    plan = _plan(spark, sf_dir, "embedding_gram_matrix")
    assert "MapInPandas" in plan
    assert plan.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in plan


def test_trailing_burst_single_shuffle(spark, sf_dir):
    # The RANGE window and the per-user rollup share the user_id hash chain.
    plan = _plan(spark, sf_dir, "trailing_window_burst")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, (
        "trailing_window_burst: user_id partitioning no longer reused"
    )
    assert "BatchEvalPython" not in plan


def test_mad_broadcast_back(spark, sf_dir):
    # Both percentile results broadcast back onto the fact; the fact joins
    # are never shuffled joins.
    plan = _plan(spark, sf_dir, "robust_outliers_mad")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2
    assert "SortMergeJoin" not in plan


def test_value_share_scalar_broadcast(spark, sf_dir):
    # The global total is a 1-row broadcast; the partkey-grouped frame is
    # never re-shuffled for the share filter.
    plan = _plan(spark, sf_dir, "important_parts_value_share")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cheapest_supplier_broadcasts(spark, sf_dir):
    # Supplier/nation/region chain and the part filter all broadcast; the
    # only shuffle is the (partkey, suppkey) grouped price.
    plan = _plan(spark, sf_dir, "regional_cheapest_supplier")
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 4
    assert "SortMergeJoin" not in plan


def test_variety_anti_join_broadcast(spark, sf_dir):
    # The NOT IN blacklist anti-joins by broadcast; part broadcasts with its
    # size IN-list pushed down.
    plan = _plan(spark, sf_dir, "supplier_part_variety")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan)
    assert "SortMergeJoin" not in plan


def test_dominant_suppliers_semi_broadcast(spark, sf_dir):
    # The dominant set is a derived aggregate whose size the STATIC planner
    # cannot estimate (since round 7 it carries no forced broadcast hint —
    # it is part-cardinality, i.e. SF-scaling, and a forced hint would OOM
    # at the SF where it stops fitting). The gate therefore checks the
    # AQE-FINAL plan: at test scale the runtime statistics must convert the
    # semi join to a broadcast; at 100 TB the same mechanism legitimately
    # keeps the shuffle.
    df = all_queries()["dominant_part_suppliers"].builder(spark, sf_dir)
    df.collect()  # materialize THIS df's execution -> AQE final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan


def test_pattern_match_single_shuffle_no_udf(spark, sf_dir):
    # Session numbering window + per-session collect share the user_id hash;
    # the regex runs JVM-side.
    plan = _plan(spark, sf_dir, "session_pattern_match")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_grafana_time_filter_pushes_below_groupby_panel(spark, sf_dir):
    """$__timeFilter on a group-by panel: the time predicate is on the group
    key (hour of event_time), so Catalyst must push it below the wide hourly
    aggregation to the events scan — at 100 TB an 8-day panel then reads
    ~8 days, not the full corpus. Window panels keep the filter above (their
    semantics need full history; covered by value tests)."""
    import datetime

    q = all_queries()["total_energy_trend"]
    t_lo = datetime.datetime(2024, 1, 18)
    t_hi = datetime.datetime(2024, 1, 26)
    plan = (
        q.builder(spark, sf_dir, t_lo=t_lo, t_hi=t_hi)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"PushedFilters: \[([^\]]*)", plan)
    assert m and "ts" in m.group(1), (
        f"time-range filter did not reach the events scan: {m and m.group(1)}"
    )


def test_pii_redaction_single_shuffle(spark, sf_dir):
    """The scrub is pure narrow regexp expressions; the only DATA exchange
    is the tiny per-source audit aggregation (the adapter's round-robin
    scan rebalance is exempt)."""
    plan = _plan(spark, sf_dir, "pii_redaction_audit")
    assert len(_data_exchanges(plan)) == 1, plan[:600]


def test_runtime_bloom_filter_engages_on_selective_fact_join(spark, sf_dir):
    """SCALE.md §7 claims Spark's runtime bloom-filter pruning becomes a
    third pruning level for selective fact-fact joins at 100 TB (its size
    thresholds keep it inert at test scale). Prove the claim is real for
    this engine's join shape, not an aspiration: with the application-side
    threshold lowered to test scale, the filtered orders side must inject a
    might_contain(...) filter onto the lineitem scan, and the joined result
    must be unchanged."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }

    def run():
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        od = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = run()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:800]
        with_bloom = {tuple(r) for r in df.collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    without = {tuple(r) for r in run().collect()}
    assert with_bloom == without


def test_zorder_audit_single_fact_scan_no_udf(spark, sf_dir):
    """The layout audit feeds both chunkings from ONE events scan (the
    min/max scaling bounds ride a broadcast scalar join, the 2x layout fan-
    out is an array explode, the Morton key is an unrolled shift/or tree in
    codegen — no Python anywhere)."""
    plan = _plan(spark, sf_dir, "zorder_layout_audit")
    assert len(re.findall(r"FileScan parquet", plan)) == 2  # events + limits
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_surprisal_single_tokenize_and_topk(spark, sf_dir):
    """unigram_surprisal_filter: top-20 must be TakeOrderedAndProject (no
    global sort), and the corpus-total scalar a broadcast."""
    plan = _plan(spark, sf_dir, "unigram_surprisal_filter")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_multimodal_meta_never_reads_payload(spark, sf_dir):
    """Metadata-only media queries must not deserialize the binary payload
    column: the media frame carries (content, meta) but the meta projection
    must prune content out of the scan."""
    from energy_data_stream_processing_spark.operators.multimodal import media_table
    from energy_data_stream_processing_spark.sources.adapter import load_table
    import tempfile

    # materialize a real media parquet so the scan's ReadSchema is honest
    d = tempfile.mkdtemp(prefix="media-") + "/media.parquet"
    media_table(load_table(spark, sf_dir, "documents")).write.parquet(d)
    meta_only = spark.read.parquet(d).select("doc_id", "meta.n_chars", "meta.source")
    plan = meta_only._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    assert schemas and all("content" not in s for s in schemas), schemas


def test_substring_windows_single_scan_two_shuffles(spark, sf_dir):
    """The char-window inverted index must read documents ONCE with only
    (doc_id, text) in the scan, and shuffle exactly twice (window bucket,
    pair count) — both map-side combinable aggregates."""
    plan = _plan(spark, sf_dir, "dedup_substring_windows")
    assert len(re.findall(r"Scan parquet", plan)) == 1
    schemas = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    cols = {c.split(":")[0] for s in schemas for c in s.split(",")[:-1] if c}
    assert cols <= {"doc_id", "text"}, cols
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_epoch_shuffle_no_global_window(spark, sf_dir):
    """Epoch shuffle must never serialize: shards are hash-derived, so the
    only window partitions by (epoch, shard) — no SinglePartition exchange
    anywhere in the plan."""
    plan = _plan(spark, sf_dir, "epoch_shuffle_assignment")
    assert "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_induction_stays_jvm_side(spark, sf_dir):
    """BPE merge induction is fully declarative: per-round argmax compiles
    to TakeOrderedAndProject (never a global sort of the pair table), the
    merge application is a JVM higher-order fold, and no Python evaluator
    of any kind appears."""
    plan = _plan(spark, sf_dir, "bpe_merge_induction")
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


# Round-14 audit twins: the audits compose the sketch pipeline with its
# exact side, so their plans must keep the sketch's kernel discipline.
def test_minhash_audit_single_signature_kernel(spark, sf_dir):
    """The audit's LSH side must keep the bucket-groupBy formulation: ONE
    ArrowEvalPython node (the signature kernel). A regression to the
    (band, bucket) self-join form recomputes the kernel per join side —
    measured ~2x the whole query (operators/dedup.py docstring)."""
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh_audit")
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1, (
        "signature kernel must run exactly once"
    )


def test_simhash_audit_stays_jvm_side(spark, sf_dir):
    """SimHash (zip_with sign-accumulation) and the planted-pair join are
    pure JVM expressions — the audit must introduce no Python."""
    plan = _plan(spark, sf_dir, "dedup_simhash_audit")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["ann_lsh_recall_audit", "ann_ivf_recall_audit"]
)
def test_ann_audit_never_row_at_a_time(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the bucket/cell kernels, vectorized


def test_customer_view_build_runs_no_spark_job(spark, sf_dir, tmp_path):
    """Building customer_view over events it has never seen must stay lazy:
    no Spark job at plan-build time, and one scan feeding one aggregation.
    The table is loaded first because Spark's own parquet schema inference
    reads the new file's footer in a job; the diff then counts only what
    the builder adds. Job ids are global and monotonic, so the gap between
    two sentinel jobs counts every job in between."""
    import shutil
    import uuid

    from energy_data_stream_processing_spark.sources.adapter import energy_events

    shutil.copy(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")
    energy_events(spark, str(tmp_path))
    sc = spark.sparkContext

    def sentinel_job_id() -> int:
        group = f"cv-sentinel-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "job-count sentinel")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return max(sc.statusTracker().getJobIdsForGroup(group))

    before = sentinel_job_id()
    df = all_queries()["customer_view"].builder(spark, str(tmp_path))
    after = sentinel_job_id()
    assert after == before + 1, f"build ran {after - before - 1} Spark job(s)"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"FileScan parquet", plan)) == 1
