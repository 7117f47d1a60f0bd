"""Breadth suite: one representative registry query per operator
family — a quick SPANNING check (every family green) as opposed to the
exhaustive full-registry run of ``tools/selfcheck.py``.

This exists so breadth certification is an explicit, documented suite
rather than anything baked into the registry's serving order (the
driver entry point exposes ``queries()`` in a deterministic md5
per-round ROTATION since round 9 — uncurated, and walking different
families each round — so external prefix samplers stay unbiased while
this suite stays the explicit spanning check).

Usage: python tools/breadth_suite.py [sf_dir]
  (delegates to selfcheck's row/schema/value comparison)
"""

from __future__ import annotations

import os
import sys

FAMILY_REPRESENTATIVES = (
    # TPC-H scan/agg/join core
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    # windows / sort / top-k
    "window_topk_orders_per_customer",
    # join shapes
    "anti_join_customers_without_orders",
    "semi_join_customers_with_open_orders",
    "two_hop_region_customer_counts",
    "cross_theta_high_balance_suppliers",
    # grouping sets family
    "rollup_nation_revenue",
    # scalar / regex / list battery
    "regex_full_match_classify",
    "scalar_path_parsing",
    "explode_token_counts",
    # sessionization
    "sessionize_user_events",
    # MERGE family
    "merge_nodes_set",
    "merge_nodes_on_create",
    "merge_edges_undirected_canonical",
    # snapshot / sweep / refresh protocol
    "snapshot_diff_orphans",
    "sweep_incident_edges",
    "snapshot_write_read_roundtrip",
    "incremental_merge_sweep",
    "ingest_refresh_sweep",
    # ingest stages
    "ingest_vcluster_stage",
    "ingest_ntp_classify_stage",
    "ingest_vinfo_conditional_stage",
    # edge properties through the store
    "graph_vm_hw_upgrade_pending",
    # layout / skew joins
    "bucketed_colocated_join",
    "salted_join_region_revenue",
    # dedup ladder
    "exact_dedup_documents",
    "jaccard_pairs_documents",
    "jaccard_pairs_prefix_filtered",
    "minhash_lsh_pairs_documents",
    "simhash_documents",
    "simhash_pairs_documents_scale_tier",
    "behavior_similarity_users_capped",
    "dedup_new_against_corpus",
    "near_dedup_clusters",
    # ANN ladder
    "cosine_topk_embeddings",
    "cosine_topk_arrow_embeddings",
    "ivf_topk_embeddings",
    "pq_adc_topk_embeddings",
    "cosine_pairs_lsh_embeddings",
    # multimodal plumbing
    "multimodal_fingerprint_features",
    # text battery
    "text_stats",
    "zipf_slope_token_frequencies",
    "dup_span_removal_documents",
    "bpe_train_merges",
    # temporal
    "asof_join_clicks_views",
    "scd2_user_event_history",
    # streaming (real availableNow runs)
    "streaming_stateful_sessionize",
    "streaming_cdc_merge_into",
    # sketches
    "kmv_distinct_users_per_type",
    # graph algorithms
    "connected_components_bipartite",
    "weighted_shortest_paths_nations",
    # round-4: splits / decontamination / diagnostics
    "leakage_safe_split_documents",
    "decontaminate_against_heldout",
    "token_entropy_quality",
    "jsd_mixture_drift_by_source",
    # round-4: real media decode + persisted index + late data
    "multimodal_decode_ppm_stats",
    "audio_wav_rms_windows",
    "dedup_against_persisted_index",
    "streaming_late_data_drop_audit",
    # round-9: web-crawl prep (WARC source, HTML->text, URL canon)
    "warc_fleet_ingest",
    "html_extract_text_stats",
    "url_canonical_dedup",
    "crawl_prep_pipeline",
    "streaming_crawl_ingest",
    "robots_frontier_filter",
    "jsonl_corpus_ingest",
    "crawl_politeness_waves",
    "charset_sniff_pages",
    "link_frontier_discovery",
    # round-9: persisted ANN index (day-2 similarity serving)
    "ann_topk_against_persisted_index",
    # round-10: coverage-ledger fold-in (tools/coverage_ledger.py) —
    # one representative per module that had NEITHER a committed
    # driver-rotation sample NOR a breadth member
    "golden_records_customers",          # queries_ext4
    "textrank_keywords_documents",       # queries_ext5
    "lsh_precision_vs_exact",            # queries_ext8
    "harmonic_centrality_landmarks",     # queries_ext9
    "seasonal_naive_backtest",           # queries_ext11
    "degree_distribution_log2_bins",     # queries_ext12
    "effective_dim_embeddings",          # queries_ext13
    "matched_pairs_att",                 # queries_ext14
    # round-10: RFC 9309 robots pipeline + giant-host politeness escape
    "robots_txt_group_gate",
    "crawl_politeness_waves_giant_host",
    # round-10: crawl maintenance (sitemap seeding, recrawl scheduling,
    # URL-parameter mining) + persisted crawl state
    "sitemap_seed_ingest",
    "recrawl_priority_urls",
    "url_param_mining",
    "frontier_dedup_persisted_state",
    "redirect_chain_resolution",
    "anchor_text_profile",
    "wet_conversion_roundtrip",
    "crawl_budget_allocation",
    "script_mix_documents",
    "pii_cc_redaction_audit",
    "doc_repetition_stats",
)


def full_suite() -> tuple[str, ...]:
    """The COMPLETE breadth suite (round-10 VERDICT #4): every
    oracle-paired registry query, with the family representatives as
    the quick spanning prefix. Membership is computed, not listed, so
    a newly registered oracle-paired query is in the suite by
    construction and the rotation blind spot cannot re-open. The
    committed per-round evidence that the full suite actually RAN is
    the selfcheck transcript ``SELFCHECK_r{N}.txt`` (full registry,
    row + schema + value vs DuckDB), which ``tools/coverage_ledger.py``
    parses and cross-checks against this membership."""
    from vmware_graph_spark.queries import ORACLE, QUERIES

    rest = [
        n for n in sorted(QUERIES)
        if n in ORACLE and n not in FAMILY_REPRESENTATIVES
    ]
    return tuple(FAMILY_REPRESENTATIVES) + tuple(rest)


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools import selfcheck

    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    names = full_suite() if "--full" in sys.argv else FAMILY_REPRESENTATIVES
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    sys.argv = ["selfcheck.py", sf_dir, *names]
    return selfcheck.main()


if __name__ == "__main__":
    raise SystemExit(main())
