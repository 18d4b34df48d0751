"""Empirical scaling probe: run representative queries at sf0.001 / 0.01 /
0.1 (a 100× input spread) and fit the log-log wall-clock slope — measured
evidence for SCALE.md's "linear in input" claims. A slope near 1.0 means
doubling the data doubles the time; ≫1 flags a super-linear (pair/sort)
stage; ≪1 means fixed overheads still dominate at these sizes (fine).

Queries run through ``measure.sweep`` (time = build + collect); a failed
query stops the probe.

Writes SCALING.md and prints one JSON line.

Usage: python tools/scale_probe.py [query ...]   (defaults below)
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["sf0.001", "sf0.01", "sf0.1"]

DEFAULT = [
    # one per family: scan/agg, join chain, window, iterative graph,
    # dedup bucketing, vector, text map, composed pipeline
    "q1_pricing_summary",
    "q3_shipping_priority",
    "topn_orders_per_customer",
    "katz_centrality_graph",
    "minhash_neardup_documents",
    "bm25_documents",
    "token_stats_documents",
    "training_data_pipeline",
    "asof_join_events",
    # round-4 families: blocking fuzzy join, incremental dedup, sketch
    "typo_pairs_customers",
    "incremental_neardup_documents",
    "histogram_quantiles_events",
    # round-5 families: PageRank loop, posting-list containment, DSIR
    # broadcast scoring, BPE training, range-frame attribution
    "pagerank_graph",
    "containment_pairs_documents",
    "dsir_weights_documents",
    "bpe_train_merges_documents",
    "touch_attribution_events",
    # round-5 late families: HITS loop, KN train+score round trip,
    # Z-order layout rank, co-purchase graph statistic
    "hits_scores_graph",
    "kn_perplexity_buckets_documents",
    "zorder_layout_orders",
    "assortativity_parts",
    # round-5 continuation families: wedge-join link prediction, hash-walk
    # frontier loop, HOF phrase scan, per-group budget window, B-way
    # bootstrap aggregate, correlated-subquery decorrelations
    "link_prediction_parts",
    "random_walks_parts",
    "phrase_search_documents",
    "token_budget_mix_documents",
    "poisson_bootstrap_documents",
    "q21_waiting_suppliers",
    # round-6 families: SQ8 map stage, cross-split decontamination join,
    # estimator calibration, exact 2-hop reach, stratified allocation
    "quantize_int8_embeddings",
    "semantic_decontaminate_embeddings",
    "minhash_jaccard_error_documents",
    "harmonic_2hop_parts",
    "neyman_allocation_events",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    from graphrag_toolkit_spark.measure import sweep
    from graphrag_toolkit_spark.session import TESTDATA_TABLES, build_session, load

    spark = build_session("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    rows_at: dict[str, int] = {}
    timings: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf in SFS:
        sf_dir = f"/root/testdata/{sf}"
        rows_at[sf] = sum(
            load(spark, sf_dir, t).count()
            for t in TESTDATA_TABLES
            if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
        )
        # every query twice per sf: the second run's time overwrites the
        # first's, which paid the JIT and parquet footers
        for rec in sweep(spark, sf_dir, lambda df: len(df.collect()), names * 2):
            if rec.error is not None:
                raise rec.error
            timings[rec.name][sf] = round(rec.seconds, 3)

    xs = [math.log10(rows_at[sf]) for sf in SFS]
    report: dict[str, dict] = {}
    for n in names:
        ys = [math.log10(max(timings[n][sf], 1e-3)) for sf in SFS]
        slope = statistics.linear_regression(xs, ys).slope
        report[n] = {"times": timings[n], "loglog_slope": round(slope, 3)}

    spark.stop()

    lines = [
        "# SCALING — measured wall-clock vs input size (100x spread)",
        "",
        "Generated by `python tools/scale_probe.py`. Total fixture rows: "
        + ", ".join(f"{sf}={rows_at[sf]:,}" for sf in SFS) + ".",
        "",
        "log-log slope ≈ how wall-clock grows with input: 1.0 = linear;",
        "well below 1 = fixed overhead (session/stage setup) still dominates",
        "at these sizes; well above 1 = a super-linear stage to investigate.",
        "",
        "| query | " + " | ".join(SFS) + " | slope |",
        "|---|---|---|---|---|",
    ]
    for n in names:
        r = report[n]
        lines.append(
            f"| {n} | "
            + " | ".join(f"{r['times'][sf]:.2f}s" for sf in SFS)
            + f" | {r['loglog_slope']:.2f} |"
        )
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SCALING.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({"rows": rows_at, "queries": report}))


if __name__ == "__main__":
    main()
