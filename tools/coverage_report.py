"""Verification ledger: which round each declared query was last checked
in against DuckDB, with what result, and which declared queries have NEVER
been checked (the ~50-query/round window can't cover the suite). It reads
the same fold of the CORRECTNESS_r*.json reports
(``workload.last_driver_checks``) that orders ``workload.all_queries()``,
so never-checked queries already lead the registry order.

Usage: python tools/coverage_report.py            # summary + never-checked
       python tools/coverage_report.py -v         # full per-query table

Prints one JSON line at the end (driver-parseable):
``{"declared": N, "ever_checked": N, "never_checked": [...], "latest_red": [...]}``
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from graphrag_toolkit_spark.workload import all_queries, last_driver_checks

    declared = sorted(all_queries())

    last: dict[str, tuple[int, bool]] = {
        n: (
            rnd,
            bool(
                res.get("rows_match")
                and res.get("schema_match")
                and res.get("hash_match")
                and not res.get("err")
            ),
        )
        for n, (rnd, _, res) in last_driver_checks().items()
    }
    never = [n for n in declared if n not in last]
    latest_red = sorted(n for n, (_, ok) in last.items() if not ok and n in declared)
    stale = {n: r for n, (r, ok) in last.items() if ok and n in declared}

    if "-v" in sys.argv:
        for n in declared:
            if n in last:
                rnd, ok = last[n]
                print(f"{n:44s} r{rnd} {'green' if ok else 'RED'}")
            else:
                print(f"{n:44s} never driver-checked")
        print()

    print(f"declared queries:        {len(declared)}")
    print(f"ever driver-checked:     {len(declared) - len(never)}")
    print(f"never driver-checked:    {len(never)}")
    print(f"red at latest check:     {len(latest_red)}  {latest_red}")
    if stale:
        oldest = min(stale.values())
        oldest_qs = sorted(n for n, r in stale.items() if r == oldest)
        print(f"oldest green round:      r{oldest} ({len(oldest_qs)} queries)")
    if never:
        print("never-checked list:")
        for n in never:
            print(f"  {n}")

    print(
        json.dumps(
            {
                "declared": len(declared),
                "ever_checked": len(declared) - len(never),
                "never_checked": never,
                "latest_red": latest_red,
            }
        )
    )


if __name__ == "__main__":
    main()
