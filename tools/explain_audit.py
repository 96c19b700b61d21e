"""Physical-plan audit: regenerates the evidence behind SCALE.md.

For each audited query, prints join strategies, pushed filters and
read schemas from `.explain("formatted")`. Run after changing any
operator to confirm the plan still has the shape you want:

  python tools/explain_audit.py [sf_dir] [query ...]

With no explicit query list the ENTIRE registry is audited (PLANS.md
is the full-registry output); the legacy AUDITED list below is kept
only as the historical r1-r3 subset for diffing.
"""

from __future__ import annotations

import sys
from pathlib import Path

AUDITED = [
    "q01_filter_eq",
    "q02_range_filter",
    "q07_sort_topk",
    "q06_tfidf_topk",
    "olap_pricing_summary",
    "olap_revenue_by_region",
    "olap_semi_join",
    "olap_anti_join",
    "cdc_latest_per_key",
    "cdc_merge_batches",
    "q54_edismax",
    "q56_graph",
    "e2g_dup_spans",
    "e4j_classifier",
    "olap_volume_shipping",
    "olap_market_share",
    "olap_waiting_suppliers",
    "olap_disjunctive",
    "q59_rerank",
    "e2h_near_dup_removal",
    "e2i_dup_span_removal",
    "cdc_scan_agg",
    "e1_exact_dedup",
    "e3_cosine_topk",
    "e3e_knn_join",
    "e2b_minhash_lsh",
    "e2_ngram_jaccard",
    "cdc_merge_postings",
    "e6a_hash_split",
    "e6c_pack_batches",
    "q13_stats_field",
    "q28_trailing_window",
    "q31_more_like_this",
    "q25b_interval_join",
    "q33_fuzzy",
    "q34_terms",
    "q35_boosted_bm25",
    "e4g_pii_scrub",
    "e4h_repetition",
    "q36_interval_facet",
    "q37_group_query",
    "cdc_merge_facets",
    "e9_source_quality",
    "e10_curation",
    "e3h_lsh_recall",
    "q38_facet_missing",
    "q39_json_facet",
    "q40_collapse",
    "q44_facet_prefix",
    "q45_spellcheck",
    "q46_hybrid_rrf",
    "cdc_atomic_update",
    "q47_geofilt",
    "q48_geo_nearest",
    "q49_block_join_parent",
    "q49b_block_join_child",
    "q50_cross_join_parser",
    "q51_term_vectors",
    "olap_small_qty_revenue",
    "olap_large_orders",
    "olap_idle_balances",
    "olap_priority_lines",
    "olap_returned_revenue",
    "olap_nation_share",
    "e11_temperature_mixture",
    "e12_unigram_logprob",
    "q49c_block_join_scored",
    "q52_realtime_get",
    "q53_luke_fields",
    "q10b_facet_params",
    "cdc_versions",
    "cdc_ttl",
    "q61_stream_rollup",
    "q61b_stream_join",
    "q61c_stream_complement",
    "q60_phonetic",
    "q62_ltr",
    "q63_funnel",
    "q64_analyzed_vocab",
    "e14_dsir",
    "e2j_semdedup",
    "e7b_fuzzy_decontaminate",
    "olap_priority_check",
    "olap_customer_distribution",
    "olap_top_supplier",
    "q65_sql_handler",
    "q66_result_clustering",
    "q67_function_parser",
    "q68_leading_wildcard",
    "e12b_bigram_backoff",
    "e12c_perplexity_buckets",
    "e13b_shard_manifest",
    "e3k_ivf_upsert",
    "cdc_merge_rollup",
    "cdc_check_and_put",
    "q13b_stats_calcdistinct",
    "q11d_facet_month",
    "q69_span_near",
    "q70_group_func",
    "q71_json_dsl",
    "q72_text_tagger",
    "q74_pseudo_fields",
    "q06d_explain",
    "q29b_suggest_context",
    "q53b_schema_infer",
    "cdc_fuzzy_rowkey",
    "e6g_repeat_epochs",
    "e6h_leakage_safe_split",
    "e4l_quality_sweep",
    "e1d_snapshot_diff",
    "e7c_decontaminated_corpus",
    "e2k_incremental_semdedup",
    "q75_percolate",
    "q76_index_profile",
    "q77_collection_alias",
    "e2l_quality_canonical",
    "e9c_vocab_drift",
    "e6i_packing_report",
    "e3l_random_projection",
    "e1e_dup_rate_by_source",
    "q40b_collapse_by_signature",
    "q39c_json_facet_range_sub",
    "cdc_scan_agg_median",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from hbase_increment_index_spark.queries import QUERIES
    from hbase_increment_index_spark.session import get_spark

    names = sys.argv[2:] or list(QUERIES)

    spark = get_spark("explain_audit")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    for name in names:
        plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().explainString(mode)
        pushed = [l.strip() for l in plan.splitlines() if "PushedFilters" in l and ": []" not in l]
        scans = [l.strip() for l in plan.splitlines() if "ReadSchema" in l]
        print(f"== {name}")
        print(
            f"   joins: broadcast={plan.count('BroadcastHashJoin')}"
            f" sortmerge={plan.count('SortMergeJoin')}"
            f" shuffledhash={plan.count('ShuffledHashJoin')}"
            f" nestedloop={plan.count('BroadcastNestedLoopJoin')}"
            f"  exchanges={plan.count('Exchange')}"
            f"  topk={'TakeOrderedAndProject' in plan}"
        )
        for line in pushed[:4]:
            print(f"   {line[:160]}")
        for line in scans[:4]:
            print(f"   {line[:160]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
