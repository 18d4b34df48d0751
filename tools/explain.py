"""Dump formatted physical plans of the scale-critical headline queries to
PLANS.md — the reviewable evidence behind SCALE.md's claims (pushed filters,
pruned ReadSchema, broadcast joins, TakeOrderedAndProject, WindowGroupLimit).

Queries are built through ``measure.sweep``; a failed build stops the run.

Usage: python tools/explain.py [sf_dir]  (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWN = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "topn_orders_per_customer",
    "cosine_topk",
    "filter_tree_orders",
    "embedding_neardup_lsh",
    "fuzzy_link_parts",
    "dup_span_coverage_documents",
    "shard_corpus_documents",
    "asof_join_events",
    "interval_join_events",
    "katz_centrality_graph",
    "kmv_distinct_users_events",
    "bm25_documents",
    "hybrid_rrf_documents",
    "training_data_pipeline",
    "word_entropy_documents",
    "typo_pairs_customers",
    "ewma_events",
    "pagerank_graph",
    "containment_pairs_documents",
    "dsir_weights_documents",
    "hard_negatives_embeddings",
    "q19_discounted_revenue",
    "hits_scores_graph",
    "kn_perplexity_buckets_documents",
    "zorder_layout_orders",
    "modularity_parts",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "link_prediction_parts",
    "random_walks_parts",
    "token_budget_mix_documents",
    "poisson_bootstrap_documents",
    "community_rollup_parts",
    "cusum_changepoint_events",
    "phash_neardup_documents",
    "late_interaction_topk",
    "mutual_nn_embeddings",
    "frequent_paths_events",
    # round-6 families: narrow SQ8 projection, cross-split LSH join,
    # signature-calibration double leg, wedge-budget harmonic reach
    "quantize_int8_embeddings",
    "semantic_decontaminate_embeddings",
    "minhash_jaccard_error_documents",
    "harmonic_2hop_parts",
    "psi_events",
    "hub_knockout_parts",
    "vector_index_pipeline",
    "heaps_law_documents",
    # round-7 families: two-phase distributed rank rewrites (no
    # Exchange-SinglePartition under any Window), LSH-bucketed truncation
    # audit, single-pass multi-n leakage sweep
    "decile_stats_orders",
    "doc_length_gate_documents",
    "auc_documents",
    "build_vocab_documents",
    "pareto_parts",
    "truncation_audit_embeddings",
    "ngram_leakage_by_n",
    "tokenizer_fertility_by_lang",
    # round-8 families: the de-hinted broadcast sites (AQE picks the join
    # strategy; at fixture scale the estimate-based broadcast should still
    # appear) and the real stdlib media decoders
    "pmi_collocations_documents",
    "top_terms_documents",
    "target_encode_orders",
    "rich_club_parts",
    "decontaminate_documents",
    "wav_pcm_stats_documents",
    "ppm_decode_documents",
]

HEADER = """# PLANS — formatted physical plans of the scale-critical queries

Generated by `python tools/explain.py` (see `tests/test_plans.py` for the
assertions that keep these shapes from regressing). What to look for:

- `PushedFilters: [...]` on every dated/filtered scan — predicates evaluated
  inside the parquet reader, not after it.
- `ReadSchema: struct<...>` listing only referenced columns — column pruning.
- `BroadcastHashJoin` on dimension sides (nation/region are HINTED — spec
  constants at any SF; customer/supplier/part and vocab-sized tables are
  UNHINTED since round 8 — the planner broadcasts them here from size
  estimates, and AQE swaps to a shuffle join when they outgrow the cap;
  `tools/broadcast_audit.py` keeps hint-forced exchanges bounded).
- `TakeOrderedAndProject` for ORDER BY + LIMIT — per-partition top-k merge,
  no global sort exchange.
- `WindowGroupLimit` BELOW the `Exchange` for per-group top-N — each map
  partition is trimmed to N rows per key before anything shuffles.
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from graphrag_toolkit_spark.measure import sweep
    from graphrag_toolkit_spark.planguard import plan_of
    from graphrag_toolkit_spark.session import build_session

    spark = build_session("explain")
    spark.sparkContext.setLogLevel("ERROR")
    out = [HEADER]
    for rec in sweep(spark, sf_dir, plan_of, SHOWN):
        if rec.error is not None:
            raise rec.error
        out.append(f"\n## {rec.name}\n\n```\n{rec.result.rstrip()}\n```\n")
    spark.stop()

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
