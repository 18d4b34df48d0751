"""Local correctness harness mirroring the driver's DuckDB-oracle compare.

For every entry in ``__spark_entry__.queries()``: run the Spark DataFrame and
the oracle SQL at the given sf dir, then compare row count, sorted column
names, and an order-insensitive value hash. Float columns are compared
bit-exactly — the workload's decimal/double discipline is supposed to make
them identical; any drift is a bug to fix in the query, not the harness.

Queries run through ``measure.sweep``; one that raises prints ERROR and
fails the run. tests/test_workload_oracle.py calls the same ``compare``.

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


def _row_key(row: dict) -> str:
    return "|".join(_canon(row[k]) for k in sorted(row.keys()))


def value_hash(rows: list[dict]) -> str:
    h = sha256()
    for row in sorted(map(_row_key, rows)):
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


def oracle_connection(sf_dir: str):
    """A DuckDB connection with a view over each fixture table at ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def collect_rows(df) -> tuple[list[str], list[dict]]:
    """The sweep action of an oracle compare: column names and rows."""
    return df.columns, [r.asDict(recursive=True) for r in df.collect()]


def compare(con, sql: str, columns: list[str], rows: list[dict]) -> tuple[bool, list[str]]:
    """Compare a Spark result (``collect_rows``) with the oracle ``sql``:
    risky oracle types, sorted column names, row count and value hash.
    Returns ``(ok, lines)``: the status after the query name, then on a
    hash mismatch with equal columns and counts up to three spark-only and
    three oracle-only rows."""
    rel = con.sql(sql)
    risky = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
             if str(t).split("(")[0] in RISKY_DUCKDB_TYPES]
    if risky:
        return False, [f"FAIL risky oracle types {risky} — CAST them"]
    rel = con.execute(sql)
    ocols = [d[0] for d in rel.description]
    orows = [dict(zip(ocols, row)) for row in rel.fetchall()]
    scols, ocols = sorted(columns), sorted(ocols)
    sh, oh = value_hash(rows), value_hash(orows)
    ok_shape = scols == ocols and len(rows) == len(orows)
    ok = ok_shape and sh == oh
    lines = [
        f"{'OK ' if ok else 'FAIL'} rows={len(rows):6d}/{len(orows):<6d} "
        f"cols={'=' if scols == ocols else f'{scols} vs {ocols}'} "
        f"hash={'=' if sh == oh else f'{sh} vs {oh}'}"
    ]
    if ok_shape and sh != oh:
        skeys, okeys = set(map(_row_key, rows)), set(map(_row_key, orows))
        for keys, tag in ((skeys - okeys, "spark-only"), (okeys - skeys, "oracle-only")):
            lines += [f"{tag}: {row[:200]}" for row in sorted(keys)[:3]]
    return ok, lines


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import pyspark

    import __spark_entry__ as entrymod
    from graphrag_toolkit_spark.measure import sweep
    from graphrag_toolkit_spark.session import build_session

    print(f"gate env: duckdb={duckdb.__version__} pyspark={pyspark.__version__} "
          f"python={sys.version.split()[0]}")
    spark = build_session("check")
    con = oracle_connection(sf_dir)
    oracles = entrymod.oracle_sql()
    names = [n for n in entrymod.queries() if n in only] if only else None
    failures = 0
    for rec in sweep(spark, sf_dir, collect_rows, names):
        name, t = rec.name, rec.seconds
        if rec.error is not None:
            print(f"  {name:45s} ERROR {type(rec.error).__name__}: {rec.error}")
            failures += 1
            continue
        columns, rows = rec.result
        if name not in oracles:
            print(f"  {name:45s} rows={len(rows):6d}  (no oracle — rows-only) {t:5.1f}s")
            failures += not rows
            continue
        ok, lines = compare(con, oracles[name], columns, rows)
        print(f"  {name:45s} {lines[0]} {t:5.1f}s")
        for line in lines[1:]:
            print(f"      {line}")
        failures += not ok
    spark.stop()
    print(f"\n{failures} failures" if failures else "\nall green")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
