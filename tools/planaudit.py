"""Dump formatted physical plans for the headline + flagship queries.

Writes PLANS.md — the reviewable record of what Catalyst actually picks
for each headline shape (broadcasts, pushed filters, pruned schemas,
exchange count). The plan-shape *assertions* live in
tests/test_plans.py; this artifact is the human-readable companion the
assertions protect.

Usage: python tools/planaudit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

AUDIT = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q19_discounted_revenue_disjunctive",
    "q21_waiting_suppliers",
    "window_topk_orders_per_customer",
    "merge_nodes_set",
    "snapshot_diff_orphans",
    "exact_dedup_documents",
    "minhash_lsh_pairs_documents",
    "cosine_topk_embeddings",
    "kmeans_clusters_embeddings",
    "asof_join_forward_next_click",
    "skyline_parts_size_price",
    "bucketed_colocated_join",
    "salted_join_region_revenue",
    "range_join_user_windows",
    "dup_span_removal_documents",
    "zorder_curve_orders",
    "bpe_train_merges",
    "ohlc_daily_value_by_type",
    "bloom_prune_join_orders",
    "incremental_join_ivm_orders",
    "record_linkage_customer_supplier",
    "embedding_covariance_matrix",
    "shuffle_skew_report",
    "training_matrix_pit_features",
    "ks_statistic_value_cohorts",
    "auc_quality_vs_lang",
    "quantile_normalize_by_source",
    "k_truss_part_cooccurrence",
    "merkle_manifest_documents",
    # round-3 additions
    "jaccard_pairs_prefix_filtered",
    "equidepth_histogram_event_values",
    "zipf_slope_token_frequencies",
    "graph_vm_hw_upgrade_pending",
    "bm25_topk_documents",
    "rrf_hybrid_retrieval",
    "nn_descent_knn_graph",
    "nn_descent_extend_graph",
    "mixture_rebalance_language_budget",
    "multimodal_near_dup_assets",
    "dsir_importance_weights",
    "soft_dedup_weights",
    # round-3 continuation
    "gazetteer_phrase_tag_totals",
    "modularity_trade_nation_partition",
    "bleu2_adjacent_docs",
    "token_budget_selection_by_lang",
    "knn_label_noise_audit",
    # round-4 additions
    "leakage_safe_split_documents",
    "split_leakage_audit",
    "decontaminate_against_heldout",
    "token_entropy_quality",
    "length_bucket_packing_plan",
    "lang_mismatch_audit_by_source",
    "jsd_mixture_drift_by_source",
    "dedup_cluster_size_histogram",
    "ngram_novelty_by_doc",
    "multimodal_decode_ppm_stats",
    "audio_wav_rms_windows",
    # round-9 additions: the scale-tier twins + the NN-Descent-routed
    # audit (the shapes their scale arguments exist for)
    "simhash_pairs_documents_scale_tier",
    "behavior_similarity_users_capped",
    "knn_label_noise_audit_nn_descent",
    # round-9 continuation: web-crawl prep (the pure-Catalyst
    # extraction chain and the one-shuffle canonical-URL dedup)
    "html_extract_text_stats",
    "url_canonical_dedup",
    "crawl_prep_pipeline",
    "robots_frontier_filter",
    "link_frontier_discovery",
    "crawl_politeness_waves",
    "ann_topk_against_persisted_index",
    # round-10: RFC 9309 robots (wildcards compile rules-side; the
    # frontier still never shuffles), the giant-host escape (bucketed
    # rank, no SinglePartition), persisted crawl state, and the
    # crawl-maintenance trio
    "robots_txt_group_gate",
    "crawl_politeness_waves_giant_host",
    "frontier_dedup_persisted_state",
    "sitemap_seed_ingest",
    "recrawl_priority_urls",
    "url_param_mining",
    "redirect_chain_resolution",
    "anchor_text_profile",
    "wet_conversion_roundtrip",
    "crawl_budget_allocation",
    "script_mix_documents",
    "pii_cc_redaction_audit",
    "doc_repetition_stats",
    # round-11: composed loop + crawl-delay pacing + availability
    # policy + trap detection + sitemap discovery + sitemap prior
    "crawl_loop_pipeline",
    "crawl_politeness_waves_crawl_delay",
    "robots_availability_gate",
    "crawl_trap_detection",
    "robots_sitemap_discovery",
    "recrawl_priority_sitemap_prior",
    "robots_cache_refresh_due",
    "host_reputation_rollup",
    "multimodal_decode_gif_stats",
    "audio_ulaw_rms_windows",
    "focused_crawl_priority",
    # round-12: reputation-weighted budgeting + redirect-policy arms
    # + parse-limit cap + IP-grain politeness + revalidation economy
    "reputation_weighted_budget",
    "robots_redirect_policy_arms",
    "robots_parse_limit_cap",
    "ip_politeness_waves",
    "revalidation_economy",
    "multimodal_decode_gif_64px_stats",
    "multimodal_gif_frame_stats",
    "page_directives_gate",
    "rep_aware_frontier_discovery",
    # round-12 ext26: structural boilerplate + mojibake audit +
    # host-graph authority + CCNet tertiles
    "boilerplate_block_classify",
    "mojibake_artifact_audit",
    "host_authority_pagerank",
    "ccnet_perplexity_buckets",
    "content_extraction_pipeline",
    "media_type_sniff",
    "idn_host_audit",
    "streaming_content_extract",
    "authority_weighted_budget",
    "frontier_redirect_identity",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"

    from vmware_graph_spark.queries import QUERIES

    spark = h.spark("planaudit")

    lines = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `python tools/planaudit.py {sf_dir}`. These are the",
        "plans the shape assertions in `tests/test_plans.py` pin down:",
        "broadcasts on dimension sides, filters and schemas pushed into the",
        "parquet scans, semi/anti joins staying semi/anti, no accidental",
        "cartesians, windows instead of self-joins. Regenerate after any",
        "operator change and diff.",
        "",
    ]
    for name in AUDIT:
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        lines += [f"## {name}", "", "```", buf.getvalue().rstrip(), "```", ""]
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md} ({len(AUDIT)} plans)")


if __name__ == "__main__":
    main()
