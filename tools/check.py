"""Local correctness harness mirroring the driver's DuckDB-oracle compare.

For every entry in ``__spark_entry__.queries()``: run the Spark DataFrame and
the oracle SQL at the given sf dir, then compare row count, sorted column
names, and an order-insensitive value hash. Float columns are compared
bit-exactly — the workload's decimal/double discipline is supposed to make
them identical; any drift is a bug to fix in the query, not the harness.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import struct
import sys
from datetime import date, datetime
from hashlib import sha256

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphrag_toolkit_spark.session import TESTDATA_TABLES as TABLES  # noqa: E402


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return struct.pack(">d", v).hex()
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def value_hash(rows: list[dict]) -> str:
    canon_rows = sorted(
        "|".join(_canon(r[k]) for k in sorted(r.keys())) for r in rows
    )
    h = sha256()
    for row in canon_rows:
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# DuckDB types whose Python/pandas/arrow mapping is engine-version-sensitive.
# HUGEINT (SUM of integers) fetches as int via fetchall() but float64/Decimal
# via pandas — the round-3 driver hash-fails were exactly the 5 oracles with a
# HUGEINT column. Oracles must CAST to a type in the safe set.
RISKY_DUCKDB_TYPES = {
    "HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT",
    "TINYINT", "SMALLINT", "TIME", "INTERVAL",
}


def risky_oracle_types(rel) -> list[tuple[str, str]]:
    return [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t).split("(")[0] in RISKY_DUCKDB_TYPES
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import pyspark

    import __spark_entry__ as entrymod
    from graphrag_toolkit_spark.session import build_session, release_blocks

    print(f"gate env: duckdb={duckdb.__version__} pyspark={pyspark.__version__} "
          f"python={sys.version.split()[0]}")
    spark = build_session("check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        import time

        t0 = time.time()
        sdf = fn(spark, sf_dir)
        srows = [r.asDict(recursive=True) for r in sdf.collect()]
        t_spark = time.time() - t0
        # collected — release this query's operator-internal checkpoint/
        # persist blocks before building the next one (279 queries in one
        # session otherwise accumulate storage that execution can't evict)
        release_blocks(spark)
        if name not in oracles:
            print(f"  {name:45s} rows={len(srows):6d}  (no oracle — rows-only) {t_spark:5.1f}s")
            if not srows:
                failures.append((name, "empty result, no oracle"))
            continue
        risky = risky_oracle_types(con.sql(oracles[name]))
        if risky:
            print(f"  {name:45s} FAIL risky oracle types {risky} — CAST them")
            failures.append((name, f"risky oracle types {risky}"))
            continue
        orel = con.execute(oracles[name])
        ocols = [d[0] for d in orel.description]
        orows = [dict(zip(ocols, row)) for row in orel.fetchall()]

        scols = sorted(sdf.columns)
        ocols_sorted = sorted(ocols)
        ok_cols = scols == ocols_sorted
        ok_count = len(srows) == len(orows)
        sh, oh = value_hash(srows), value_hash(orows)
        ok_hash = sh == oh
        status = "OK " if (ok_cols and ok_count and ok_hash) else "FAIL"
        print(
            f"  {name:45s} {status} rows={len(srows):6d}/{len(orows):<6d} "
            f"cols={'=' if ok_cols else f'{scols} vs {ocols_sorted}'} "
            f"hash={'=' if ok_hash else f'{sh} vs {oh}'} {t_spark:5.1f}s"
        )
        if status == "FAIL":
            failures.append((name, f"cols={ok_cols} count={ok_count} hash={ok_hash}"))
            if not ok_hash and ok_cols and ok_count:
                skeys = {
                    "|".join(_canon(r[k]) for k in sorted(r.keys())) for r in srows
                }
                okeys = {
                    "|".join(_canon(r[k]) for k in sorted(r.keys())) for r in orows
                }
                for diff, tag in ((skeys - okeys, "spark-only"), (okeys - skeys, "oracle-only")):
                    for row in sorted(diff)[:3]:
                        print(f"      {tag}: {row[:200]}")
    spark.stop()
    print(f"\n{len(failures)} failures" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
