"""Plan-size audit: formatted-plan line / Exchange counts for every registry
query, largest first — the mechanical tripwire for multi-reference lineage
fan-out (optimization guide §3.3: very wide plans make PLANNING itself the
bottleneck, and every duplicated subtree re-executes).

A query whose shared intermediate is referenced from several plan branches
without a lineage break re-plans (and re-runs) the whole upstream subtree
per reference; plan size then grows geometrically with chain depth. The
round-8 sweep found offenders up to 2,092 formatted lines / 188 Exchanges
(ipf_rake) that each collapsed to <200 lines with a lazy localCheckpoint at
the multi-consumer boundary. This tool keeps that class from regressing.

Usage: python tools/plan_size_audit.py [sf_dir] [--top N] [--threshold L]
Prints every query over --threshold formatted lines (default 400) and the
--top N largest overall. Exit 1 if any query exceeds the threshold.

Note: frames behind an EAGER localCheckpoint show only their tail (the
rounds of iterative operators execute during construction), so this audit
measures the plan Catalyst actually has to optimize per action — which is
exactly the cost being bounded. Queries are built through ``measure.sweep``.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--threshold", type=int, default=400)
    args = ap.parse_args()

    from graphrag_toolkit_spark.measure import sweep
    from graphrag_toolkit_spark.planguard import plan_of
    from graphrag_toolkit_spark.session import build_session
    from graphrag_toolkit_spark.workload import all_queries

    spark = build_session("plan_size_audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for rec in sweep(spark, args.sf_dir, plan_of, sorted(all_queries())):
        if rec.error is not None:  # construction failure = audit failure
            print(f"  {rec.name:45s} ERROR {type(rec.error).__name__}: {rec.error}")
            rows.append((rec.name, 10**9, -1))
        else:
            rows.append((rec.name, rec.result.count("\n") + 1,
                         rec.result.count("Exchange")))
    rows.sort(key=lambda r: -r[1])
    over = [r for r in rows if r[1] > args.threshold]
    print(f"\n== top {args.top} plans by formatted lines ==")
    for name, lines, ex in rows[: args.top]:
        print(f"  {name:45s} {lines:6d} lines  {ex:4d} Exchange")
    if over:
        print(f"\nover threshold ({args.threshold} lines): {len(over)}")
        for name, lines, ex in over:
            print(f"  {name:45s} {lines:6d} lines  {ex:4d} Exchange")
    else:
        print(f"\nall clean: 0 (threshold {args.threshold} lines)")
    spark.stop()
    return 1 if over else 0


if __name__ == "__main__":
    raise SystemExit(main())
