"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Headline set: one representative per operator class from SURVEY.md §2
(scan/agg, join chain, window, rollup, BFS, frontier expansion, fuzzy link,
cosine top-k, TF-IDF, MinHash-LSH, SimHash, ANN, event windows,
sessionization) plus the flagship diversity search. Queries run through
``measure.sweep`` after a warm-up: wall-clock is build plus collect, and
BENCH_FULL.json also gets each query's Spark jobs and stages.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "topn_orders_per_customer",
    "rollup_customer_orders",
    # graph operators
    "bfs_shortest_paths",
    "metapath_follow",
    "topn_part_neighbors",
    "entity_context_parts",
    "fuzzy_link_parts",
    # vector / text
    "cosine_topk",
    "cosine_topk_diverse",
    "dense_link_embeddings",
    "tfidf_documents",
    # dataprep
    "minhash_neardup_documents",
    "neardup_clusters_documents",
    "ngram_jaccard_neardup",
    "simhash_documents",
    "ann_lsh_topk",
    "embedding_neardup_lsh",
    "token_stats_documents",
    "dup_span_coverage_documents",
    "repetition_stats_documents",
    "decontaminate_documents",
    "pq_adc_topk",
    # events
    "tumbling_window_events",
    "sessionize_events",
    "percentile_stats_events",
    # lifecycle + pipeline
    "scd2_versioning_orders",
    "processor_chain_statements",
    "extract_build_statements",
    "beam_search_embeddings",
    # temporal / sketch / centrality / semantic-dedup (round-3 additions)
    "asof_join_events",
    "interval_join_events",
    "kmv_distinct_users_events",
    "katz_centrality_graph",
    "semantic_dedup_embeddings",
    "training_data_pipeline",
    # round-4 additions: blocking fuzzy-pair join, exact EWMA window,
    # trained-IVF (Lloyd) end-to-end
    "typo_pairs_customers",
    "ewma_events",
    "ann_ivf_kmeans_topk",
    # round-5 additions: the heavy round-4 queries the judge flagged as
    # untracked (entity_resolution was the slowest local check at sf0.01),
    # plus the full retrieval-eval pipeline and the DAU/MAU window
    "entity_resolution_customers",
    "split_leakage_documents",
    "dau_mau_events",
    "retrieval_eval_pipeline",
    # round-5 additions: star connected components run via neardup_clusters
    # (shared above); these are the new iterative / join-heavy entries
    "pagerank_graph",
    "bpe_train_merges_documents",
    "containment_pairs_documents",
    "dsir_weights_documents",
    # round-5 late additions: HITS (the other heavy iterative op),
    # Kneser-Ney training, and the Z-order layout job
    "hits_scores_graph",
    "kneser_ney_lm_documents",
    "zorder_layout_orders",
    # round-5 continuation: wedge-join link prediction, hash-walk corpus,
    # the hardest TPC-H subquery shape (Q21 double-correlation), and the
    # greedy token-budget mixture
    "link_prediction_parts",
    "random_walks_parts",
    "q21_waiting_suppliers",
    "token_budget_mix_documents",
    # round-5 continuation, second wave: multimodal perceptual-hash dedup,
    # ColBERT-style MaxSim scoring, mutual-NN mining, grouped bootstrap
    "phash_neardup_documents",
    "late_interaction_topk",
    "mutual_nn_embeddings",
    "bootstrap_by_source_documents",
    # round-6 additions: SQ8 quantization (narrow map stage), embedding-space
    # decontamination (cross-split LSH join), MinHash estimator calibration
    # (signature + exact-Jaccard legs), exact 2-hop harmonic centrality
    # (wedge-budget join)
    "quantize_int8_embeddings",
    "semantic_decontaminate_embeddings",
    "minhash_jaccard_error_documents",
    "harmonic_2hop_parts",
    # round-6 late additions: drift metric (order-statistic buckets +
    # pinned-order sum), double star-CC robustness run, composed vector
    # index build
    "psi_events",
    "hub_knockout_parts",
    "vector_index_pipeline",
    # round-7 additions: near-dup cluster-size report (star-CC rounds — the
    # heaviest round-6 entry not yet tracked), Kaplan-Meier retention and
    # Neyman draw as cheap rows, and two-phase-rank rewrites worth watching
    # (vocab-rank build, continuous-score AUC)
    "cluster_size_distribution_documents",
    "survival_curve_events",
    "neyman_sample_events",
    "build_vocab_documents",
    "auc_documents",
    # round-7 new operators: Matryoshka truncation audit (LSH-pair double
    # cosine), multi-n leakage sweep (single tagged shingle pass), IVF-PQ
    # (residual-coded probe scan), c(k) spectrum, fertility-by-language
    "truncation_audit_embeddings",
    "ngram_leakage_by_n",
    "ann_ivf_pq_topk",
    "clustering_spectrum_parts",
    "tokenizer_fertility_by_lang",
    # round-8 additions: the de-hinted broadcast family (watch for local
    # regressions now that AQE picks the join strategy) and the real
    # stdlib media decoders
    "pmi_collocations_documents",
    "oov_rate_documents",
    "top_terms_documents",
    "target_encode_orders",
    "association_rules_parts",
    "rich_club_parts",
    "schema_summary_supplies",
    "wav_pcm_stats_documents",
    "ppm_decode_documents",
    "boilerplate_lines_documents",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from graphrag_toolkit_spark.measure import sweep
    from graphrag_toolkit_spark.session import build_session, warm_up

    spark = build_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # one-time JVM, JIT, Python-worker and parquet-page costs, untimed
    warm_up(spark, sf_dir)

    # a failed query counts in the total up to its failure; the run exits 1
    recs = []
    for rec in sweep(spark, sf_dir, lambda df: len(df.collect()), HEADLINE):
        recs.append(rec)
        status = f"{rec.result} rows" if rec.error is None else f"FAILED {rec.error!r}"
        print(f"# {rec.name}: {rec.seconds:.2f}s ({status}, {rec.jobs} jobs)",
              file=sys.stderr)
    timings = {r.name: round(r.seconds, 3) for r in recs}
    total = sum(timings.values())
    failed = [r.name for r in recs if r.error is not None]

    spark.stop()
    # 1-min loadavg at measurement end: the ±30% host-noise band seen
    # round-over-round is only attributable with the load recorded
    # alongside the wall-clock (BASELINE.md §I protocol).
    base = {
        "metric": "headline_suite_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "loadavg_1min": round(os.getloadavg()[0], 2),
        "repeats": 1,  # per-query measurements are single-shot
        # the session's core count (the driver sets SPARK_GRAFT_CPUS and
        # re-runs at lower counts to measure scaling — report what was
        # actually used, not the machine's total)
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)),
    }
    # The driver keeps only a ~1.7 KB TAIL of stdout and parses the last
    # line: the full 77-query dict overflows it and decapitates the JSON
    # (BENCH_r07 "parsed": null). Ship the COMPLETE record to a committed
    # repo file, and keep the stdout line under a hard budget by inlining
    # only the slowest queries (the perf-critical entries) that fit.
    full = dict(base, queries=timings, jobs={r.name: r.jobs for r in recs},
                stages={r.name: r.stages for r in recs}, n_queries=len(timings))
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_FULL.json")
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    budget = 1400
    slowest = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    line_of = lambda k: json.dumps(dict(
        base,
        n_queries=len(timings),
        queries_file="BENCH_FULL.json",
        queries=dict(sorted(slowest[:k])),
    ))
    k = len(slowest)
    while k > 0 and len(line_of(k)) > budget:
        k -= 1
    print(line_of(k))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
