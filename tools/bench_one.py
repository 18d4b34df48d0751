"""Isolate and measure individual registry queries (guide §1: measure first).

Runs each named query at $SPARK_GRAFT_SF_DIR (default sf0.1) with the noop
sink (times the computation, not result pickling), runs each repeat under
its own job group and reports its Spark jobs (build plus action, from the
StatusTracker) next to its time, and can dump .explain("formatted") per
query. It is the optimization-loop instrument; bench.py's contract is
separate and untouched.

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
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--explain", default=None, help="dir for <q><suffix>.txt plans")
    ap.add_argument("--suffix", default="", help="plan filename suffix (_before/_after)")
    ap.add_argument("--action", choices=["noop", "collect"], default="noop")
    ap.add_argument(
        "--release", action="store_true",
        help="between runs, unpersist every persistent RDD (the query's "
        "local checkpoints) with session.release_blocks, which forces no "
        "JVM GC; isolates each run from the previous one's block-manager "
        "residue",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from graphrag_toolkit_spark.session import build_session, warm_up
    from graphrag_toolkit_spark.workload import all_queries

    spark = build_session("bench_one")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    warm_up(spark, sf_dir)  # same warm-up as bench.py

    sc = spark.sparkContext
    out: dict[str, list[float]] = {}
    jobs: dict[str, list[int]] = {}
    for name in args.queries:
        fn = queries[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            with open(
                os.path.join(args.explain, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
        runs, run_jobs = [], []
        for i in range(args.repeat):
            group = f"{name} run{i}"
            sc.setJobGroup(group, group)
            # fn() is INSIDE the timed region: iterative queries run eager
            # localCheckpoint jobs during construction (bench.py times the
            # same span)
            t0 = time.time()
            df = fn(spark, sf_dir)
            if args.action == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.collect()
            runs.append(round(time.time() - t0, 3))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
            run_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            if args.release:
                from graphrag_toolkit_spark.session import release_blocks

                del df
                release_blocks(spark)
        out[name] = runs
        jobs[name] = run_jobs
        print(f"# {name}: {runs} jobs {run_jobs}", file=sys.stderr)
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "timings": out, "jobs": jobs,
                      "loadavg_1min": round(os.getloadavg()[0], 2)}))


if __name__ == "__main__":
    main()
