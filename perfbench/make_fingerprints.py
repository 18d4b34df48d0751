"""Regenerate ``fingerprints.json``, the stored expected outputs the
benchmark checks against:

- ``analytics``: row count, order-insensitive hash and column names of each
  query's DuckDB ``oracle_sql()`` result at sf0.001. The Spark result is
  compared once here too; a mismatch is reported, never stored.
- ``serve``: result fingerprints of the first queries of the default seed.
- ``graph_ids``: the ids of every node table of a one-shot build of all the
  documents (embedding tables carry their node table's ids).

    python3 perfbench/make_fingerprints.py

Takes a few minutes; run it only when the data or the expected outputs
change on purpose.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import inputs
from run import ROOT, launch_env

sys.path.insert(0, ROOT)

SERVE_FINGERPRINTED = 8


def analytics_fingerprints(spark) -> dict:
    import duckdb

    from graphrag_toolkit_spark.session import release_blocks
    from graphrag_toolkit_spark.workload import all_oracles, all_queries

    con = duckdb.connect()
    for f in sorted(os.listdir(inputs.DATA)):
        name = f.removesuffix(".parquet")
        path = os.path.join(inputs.DATA, f)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    oracles, queries = all_oracles(), all_queries()
    out = {}
    for name in inputs.ANALYTICS_QUERIES:
        rel = con.execute(oracles[name])
        cols = [d[0] for d in rel.description]
        expect = dict(
            inputs.rows_fingerprint([dict(zip(cols, r)) for r in rel.fetchall()]),
            columns=sorted(cols),
        )
        df = queries[name](spark, inputs.DATA)
        got = dict(
            inputs.rows_fingerprint([r.asDict(recursive=True) for r in df.collect()]),
            columns=sorted(df.columns),
        )
        release_blocks(spark)
        print(f"{name}: oracle {expect} spark {got}", file=sys.stderr)
        if got != expect:
            print(f"MISMATCH {name}: Spark disagrees with its oracle", file=sys.stderr)
        out[name] = expect
    return out


def serve_fingerprints(spark) -> dict:
    from graphrag_toolkit_spark import api
    from graphrag_toolkit_spark.session import load

    g = api.LexicalGraphIndex().extract_and_build(load(spark, inputs.DATA, "documents"))
    engine = api.LexicalGraphQueryEngine.for_traversal_based_search(g)
    out = {}
    for text in inputs.serve_queries(inputs.DEFAULT_SEED)[:SERVE_FINGERPRINTED]:
        rows = engine.retrieve(text).collect()
        out[text] = inputs.rows_fingerprint([r.asDict(recursive=True) for r in rows])
    return out


def graph_ids(spark) -> dict:
    from graphrag_toolkit_spark import indexing
    from graphrag_toolkit_spark.session import load

    g = indexing.to_graph_tables(
        indexing.extract_and_build(load(spark, inputs.DATA, "documents"))
    )
    ids = {
        table: sorted(r[0] for r in getattr(g, table).select(col).collect())
        for table, (col, _) in inputs.STORE_TABLES.items()
    }
    for table, (_, node) in inputs.STORE_TABLES.items():
        if ids[table] != ids[node]:
            print(f"MISMATCH {table}: ids differ from {node}", file=sys.stderr)
    return {node: ids[node] for _, node in inputs.STORE_TABLES.values()}


def main() -> None:
    # the same Spark launch settings as the benchmark runs
    work = os.path.join(ROOT, ".perfbench", f"fingerprints-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update(launch_env(work, len(os.sched_getaffinity(0)), trace=False))

    from graphrag_toolkit_spark.session import build_session

    spark = build_session("perfbench-fingerprints")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        prints = {
            "analytics": analytics_fingerprints(spark),
            "serve": serve_fingerprints(spark),
            "graph_ids": graph_ids(spark),
        }
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(inputs.FINGERPRINTS, "w") as f:
        json.dump(prints, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
