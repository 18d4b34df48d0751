"""Scan every registry query's physical plan for HINT-FORCED broadcasts of
tables that are not provably bounded (the 8 GB-broadcast-cap / driver-OOM
failure family at 100 TB — a job failure, not a slow plan).

The session is built with ``spark.sql.autoBroadcastJoinThreshold=-1`` BEFORE
any query is constructed, so estimate-based broadcasts (safe: AQE re-plans
them at real sizes) never appear — every surviving BroadcastExchange in a
pre-AQE plan is an ``F.broadcast()`` hint, permanent at any scale. Each
one's input subtree must be bounded by construction (limits, scalar or
bounded-key aggregates, literal tables) or carry a written bound in
``planguard.BROADCAST_CONTRACT``.

Usage: python tools/broadcast_audit.py [sf_dir] [query ...]

Plan-only: queries are built through ``measure.sweep``, never executed (it
releases the blocks of the small jobs eager checkpoints run in a few builders)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from graphrag_toolkit_spark.measure import sweep
    from graphrag_toolkit_spark.session import build_session

    spark = build_session("broadcast-audit")
    # disable size-estimate broadcasts BEFORE building any plan: what's left
    # is hint-forced. (Planning is lazy; the conf is read when each query's
    # physical plan is first materialized by the audit's explain call.)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    import __spark_entry__ as entrymod
    from graphrag_toolkit_spark.planguard import (
        BROADCAST_CONTRACT,
        hinted_broadcast_violations,
    )

    bad = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        (rec,) = sweep(
            spark, sf_dir,
            lambda df: hinted_broadcast_violations(df, query_name=name), [name],
        )
        v = rec.result
        if rec.error is not None:
            print(f"  {name:45s} ERROR {type(rec.error).__name__}: {rec.error}")
            bad += 1
        elif v and name in BROADCAST_CONTRACT:
            # request/construction-bounded sites the plan can't prove; the
            # site count stays visible so growth in a contract query is
            # noticed at review time
            print(f"  {name:45s} OK (contract x{len(v)}: "
                  f"{BROADCAST_CONTRACT[name][:55]})")
        elif v:
            bad += 1
            print(f"  {name:45s} VIOLATION x{len(v)}")
            for x in v:
                print(f"      exchange: {x.exchange_line[:110]}")
                print(f"      input:    {x.subtree_head[:110]}")
        else:
            print(f"  {name:45s} OK")
    print("violations:" if bad else "all clean:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
