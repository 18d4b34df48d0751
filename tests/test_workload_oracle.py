"""Every declared workload query must hash-match its DuckDB oracle at sf0.001
(the driver runs the same compare at sf0.01 — this is the fast local gate).
Each query runs through ``measure.sweep``, which releases its blocks, and is
compared by ``tools.check.compare``, as tools/check.py does."""

from __future__ import annotations

import hashlib

import pytest

from graphrag_toolkit_spark.measure import sweep
from graphrag_toolkit_spark.workload import all_oracles, all_queries
from tools.check import collect_rows, compare, oracle_connection


@pytest.fixture(scope="module")
def duck(sf_dir):
    return oracle_connection(sf_dir)


@pytest.mark.parametrize("name", list(all_queries()))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    (rec,) = sweep(spark, sf_dir, collect_rows, [name])
    if rec.error is not None:
        raise rec.error
    oracle = all_oracles().get(name)
    if oracle is None:
        return  # rows-only check (non-SQL-expressible op)
    ok, lines = compare(duck, oracle, *rec.result)
    assert ok, "\n".join(lines)


def test_check_order_is_derived_unchanged():
    """Checks read the registry in order; the order derived from the
    committed CORRECTNESS_r*.json reports equals the hand-kept list it
    replaced (sha256 of the newline-joined names)."""
    digest = "535623294d3e64270303e1b7e3bdafeacf7faa6767c175a83df4d91046b0d1b8"
    for names in (all_queries(), all_oracles()):
        assert hashlib.sha256("\n".join(names).encode()).hexdigest() == digest
