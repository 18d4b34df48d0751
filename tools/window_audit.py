"""Scan every registry query's physical plan for single-partition Windows
over unbounded input (the 100 TB parallelism-ceiling anti-pattern).

Usage: python tools/window_audit.py [sf_dir] [query ...]

Prints one line per query: OK, or VIOLATION with the offending nodes.
Plan-only: queries are built through ``measure.sweep``, never executed (it
releases the blocks of the small jobs eager checkpoints run in a few builders)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from graphrag_toolkit_spark.measure import sweep
    from graphrag_toolkit_spark.planguard import (
        CONTRACT_BOUNDED,
        singlepartition_window_violations,
    )
    from graphrag_toolkit_spark.session import build_session

    spark = build_session("window-audit")
    bad = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        if name in CONTRACT_BOUNDED:
            print(f"  {name:45s} OK (contract: result-set-bounded window)")
            continue
        (rec,) = sweep(spark, sf_dir, singlepartition_window_violations, [name])
        v = rec.result
        if rec.error is not None:
            print(f"  {name:45s} ERROR {type(rec.error).__name__}: {rec.error}")
            bad += 1
        elif v:
            bad += 1
            print(f"  {name:45s} VIOLATION x{len(v)}")
            for x in v:
                print(f"      window:   {x.window_line[:110]}")
                print(f"      exchange: {x.exchange_line[:110]}")
                print(f"      input:    {x.subtree_head[:110]}")
        else:
            print(f"  {name:45s} OK")
    print("violations:" if bad else "all clean:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
