"""Every declared workload query must hash-match its DuckDB oracle at sf0.001
(the driver runs the same compare at sf0.01 — this is the fast local gate)."""

from __future__ import annotations

import hashlib
import os

import duckdb
import pytest

from tools.check import TABLES, value_hash


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _pairs():
    from graphrag_toolkit_spark.workload import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    return [(name, fn, oracles.get(name)) for name, fn in queries.items()]


@pytest.mark.parametrize("name,fn,oracle", _pairs(), ids=[p[0] for p in _pairs()])
def test_query_matches_oracle(spark, sf_dir, duck, name, fn, oracle):
    sdf = fn(spark, sf_dir)
    srows = [r.asDict(recursive=True) for r in sdf.collect()]
    if oracle is None:
        assert len(srows) >= 0  # rows-only check (non-SQL-expressible op)
        return
    rel = duck.execute(oracle)
    ocols = [d[0] for d in rel.description]
    orows = [dict(zip(ocols, row)) for row in rel.fetchall()]
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert value_hash(srows) == value_hash(orows)


def test_check_order_is_derived_unchanged():
    """Checks read the registry in order; the order derived from the
    committed CORRECTNESS_r*.json reports equals the hand-kept list it
    replaced (sha256 of the newline-joined names)."""
    from graphrag_toolkit_spark.workload import all_oracles, all_queries

    digest = "535623294d3e64270303e1b7e3bdafeacf7faa6767c175a83df4d91046b0d1b8"
    for names in (all_queries(), all_oracles()):
        assert hashlib.sha256("\n".join(names).encode()).hexdigest() == digest
