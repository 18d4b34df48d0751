"""Isolate and measure individual registry queries (guide §1: measure first).

Runs each named query at $SPARK_GRAFT_SF_DIR (default sf0.1) with the noop
sink (times the computation, not result pickling) through
``measure.sweep``: each repeat runs under its own job group, reports its
Spark jobs (build plus action, from the StatusTracker) next to its time,
and has its blocks released before the next run. It can dump
.explain("formatted") per query. It is the optimization-loop instrument;
bench.py's contract is separate and untouched. Exit 1 if a run failed.

Usage:
  python tools/bench_one.py q1_pricing_summary katz_centrality_graph
  python tools/bench_one.py --repeat 3 --explain plans/r08 --suffix _before katz_centrality_graph
  python tools/bench_one.py --action collect ...   # bench.py's timed action
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--explain", default=None, help="dir for <q><suffix>.txt plans")
    ap.add_argument("--suffix", default="", help="plan filename suffix (_before/_after)")
    ap.add_argument("--action", choices=["noop", "collect"], default="noop")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from graphrag_toolkit_spark.measure import sweep
    from graphrag_toolkit_spark.planguard import plan_of
    from graphrag_toolkit_spark.session import build_session, warm_up

    spark = build_session("bench_one")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)  # same warm-up as bench.py

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for rec in sweep(spark, sf_dir, plan_of, args.queries):
            if rec.error is None:
                path = os.path.join(args.explain, f"{rec.name}{args.suffix}.txt")
                with open(path, "w") as f:
                    f.write(rec.result)

    sink = {
        "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
        "collect": lambda df: len(df.collect()),
    }[args.action]
    timings: dict[str, list[float]] = {n: [] for n in args.queries}
    jobs: dict[str, list[int]] = {n: [] for n in args.queries}
    failed = 0
    for rec in sweep(spark, sf_dir, sink, [n for n in args.queries for _ in range(args.repeat)]):
        timings[rec.name].append(round(rec.seconds, 3))
        jobs[rec.name].append(rec.jobs)
        failed += rec.error is not None
        status = "" if rec.error is None else f" FAILED {rec.error!r}"
        print(f"# {rec.name}: {rec.seconds:.2f}s {rec.jobs} jobs{status}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "timings": timings, "jobs": jobs,
                      "loadavg_1min": round(os.getloadavg()[0], 2)}))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
