"""Driver-sample freeze guard.

The external driver's correctness gate samples the FIRST 50 registry
entries, and those rows are the round-over-round hard signal — so their
names and ORDER are frozen (round-3 verdict, mitigation item 3). New
queries must register in modules imported after the existing ones (add a
queries_extNN module with the next N; registry.load_all imports them in
ascending N), never earlier.

If this test fails you reordered or renamed a frozen entry: restore the
order instead of updating the golden list.
"""

from __future__ import annotations

from shortvideohybridanalyticslakehouse_spark.plans.registry import load_all

FROZEN_FIRST_50 = [
    "events_1min_agg",
    "rolling_30m_metrics",
    "flagship_decision_context",
    "validate_split_quarantine",
    "cdc_latest_snapshot",
    "latest_event_per_user",
    "join_enrich_revenue",
    "anti_join_unsold_parts",
    "dup_key_groups",
    "null_profile_lineitem",
    "distinct_active_users",
    "value_percentiles",
    "topk_orders",
    "json_extract_props",
    "bounded_window_snapshot",
    "text_stats",
    "term_tfidf",
    "dedup_exact_groups",
    "ngram_jaccard_top_pairs",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "simhash_fingerprints",
    "simhash_closest_pairs",
    "embedding_cosine_topk",
    "embedding_ivf_label_topk",
    "doc_rolling_hash",
    "user_sessions",
    "action_queue_cooldown",
    "platform_health_trend",
    "quantile_baselines_publish",
    "embedding_lsh_topk",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "reconciliation_rt_vs_batch",
    "topk_orders_per_customer",
    "rollup_lineitem_status",
    "customer_cohort_set_ops",
    "embedding_kmeans_ivf_topk",
    "pivot_event_type_counts",
    "event_gap_analysis",
    "supplier_balance_by_nation",
    "value_percentiles_by_type",
    "train_val_test_split",
    "embedding_pairs_topk",
    "multimodal_decode_stats",
    "near_dup_lsh_verified",
    "asof_join_last_purchase",
    "tpch_q4_order_priority",
    "tpch_q17_small_qty_revenue",
    "tpch_q15_top_supplier",
]


def test_first_50_registry_entries_frozen():
    names = list(load_all())[:50]
    assert names == FROZEN_FIRST_50


def test_frozen_entries_keep_oracles():
    reg = load_all()
    for name in FROZEN_FIRST_50:
        fn, oracle = reg[name]
        assert callable(fn)
        assert oracle and "SELECT" in oracle.upper(), f"{name} lost its oracle"
