"""Declared operator workload: every implemented operator from SURVEY.md §2
exposed as a named (spark, sf_dir) -> DataFrame callable plus a DuckDB oracle
SQL string over the same tables.

Module registry pattern: each submodule defines ``QUERIES`` and ``ORACLES``;
``all_queries()`` / ``all_oracles()`` merge them for ``__spark_entry__``.

Exact-match discipline (the driver hash-compares values against DuckDB):
- money aggregation happens in DECIMAL (inputs are exact 2-decimal doubles, so
  the decimal cast is exact); final results are rounded in the decimal domain
  then cast to double (exactly representable), never summed as doubles.
- any division happens in the double domain on exact operands (identical IEEE
  result in both engines).
- every LIMIT is preceded by a total order (score desc, unique id asc).
- arrays are sorted then stringified (``concat_ws``) — collect order is never
  relied on.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from graphrag_toolkit_spark.workload import (
    dataprep,
    events,
    graphish,
    lexical,
    lifecycle,
    pipeline,
    relational,
    vector,
)

_MODULES = [relational, graphish, lexical, vector, dataprep, events, lifecycle, pipeline]

# The committed correctness reports sit at the repository root, next to the package.
_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def last_driver_checks() -> dict[str, tuple[int, int, dict]]:
    """Per query name, ``(round, position, result)`` of its last appearance
    in the committed correctness reports ``CORRECTNESS_r<round>.json`` (position
    = its index in that report). Empty when the reports are absent, e.g. in
    an installed copy of the package."""
    last: dict[str, tuple[int, int, dict]] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        with open(path) as f:
            for pos, (name, res) in enumerate(json.load(f).items()):
                key = (int(m.group(1)), pos)
                if name not in last or key > last[name][:2]:
                    last[name] = (*key, res)
    return last


def _prioritized(merged: dict) -> dict:
    """Check priority (~50 queries a round are hash-verified against DuckDB,
    taken from this dict in order): oldest verified first, by the last
    round that checked a query, then by its position in that round's
    report. Never-checked queries come first; the sort is stable, so ties
    (and everything, without the reports) keep module order."""
    last = last_driver_checks()
    return {
        n: merged[n]
        for n in sorted(merged, key=lambda n: last[n][:2] if n in last else (0, 0))
    }


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    return _prioritized(out)


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return _prioritized(out)
