"""One benchmark run inside one Spark driver process.

Started by ``run.py``, which sets the environment (package on PYTHONPATH,
core count, local dirs, event log for traced runs). Builds the session,
sets up the workload's inputs, runs its fixed set of operations in a closed
loop with one client, checks every output, and writes the result record as
JSON to ``--out``. The operation set does not depend on how long operations
take, so every commit measures the same work. With ``--trace 1`` it also
records spans and writes the per-layer figures instead of the end-to-end
ones.

The end-to-end figures are CPU seconds of every process of the run (see
``session_cpu_s``), not wall time: on a host whose cores are shared with
other machines, wall time of the same work drifts by 30-60% from one hour
to the next, while the CPU time the run itself used moves far less. Wall
times of every step are kept in the run record.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

import inputs
import tracing

START = time.perf_counter()

# serve: the first call on a fresh handle, then one warm call
SERVE_OPS = 2

SERVE_LAYERS = (
    "query_engine.chunk_search_flat",
    "operators.vss.top_k_with_diversity",
    "operators.traversal.chunk_to_statements",
    "operators.rollup.scored_statement_context",
    "operators.tfidf.rerank_by_tfidf",
    "operators.processors",
    "operators.rollup.nest_results",
    "api.query",
)
INGEST_LAYERS = ("indexing.extract_and_build", "indexing.to_graph_tables")
# end-to-end metrics and their units, both CPU seconds of the run's processes
END_TO_END = {"setup_s": "s", "warm_cpu_s": "s"}
# what a traced run reports of its first operation and its wall times
TRACE_ONLY = ("first_op_cpu_s", "first_op_wall_s", "warm_wall_s")
SPARK_STATS = (
    "jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "max_task_share", "failed_tasks",
)


def _unit(stat: str) -> str:
    if stat.endswith("_s"):
        return "s"
    if stat.endswith("bytes") or stat.endswith("bytes_written"):
        return "bytes"
    if stat.endswith("share") or stat.endswith("per_doc_byte"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order. A traced run of any
    workload emits all of them; layers the workload does not reach read 0."""
    names = [f"{l}.{s}" for l in SERVE_LAYERS for s in ("self_s", "jobs", "stages")]
    names += [
        "indexing.embed_values.stages",
        "indexing.embed_values.executor_run_s",
        "session.persistent_rdds.last",
        "session.persistent_rdds.growth",
    ]
    names += [f"{l}.{s}" for l in INGEST_LAYERS for s in ("self_s", "jobs", "stages")]
    names += [
        "sources.sink.append_merge.self_s",
        "sources.sink.append_merge.jobs",
        "sources.sink.append_merge.bytes_written",
        "sources.sink.store_bytes_per_doc_byte",
    ]
    names += [
        f"workload.{q}.{s}"
        for q in inputs.ANALYTICS_QUERIES
        for s in ("construct_s", "construct_jobs", "action_s", "jobs")
    ]
    names += [f"spark.{s}" for s in SPARK_STATS]
    # the traced run's own end-to-end figures (against an untraced run's,
    # the tracing overhead) and its wall times
    names += [f"trace.{m}" for m in (*END_TO_END, *TRACE_ONLY)]
    return names


def per_layer_units() -> dict[str, str]:
    return {n: _unit(n.rsplit(".", 1)[1]) for n in per_layer_names()}


class Run:
    """What one workload did: its input builds, its operations and their
    output checks, and the properties of its generated inputs."""

    def __init__(self) -> None:
        self.setup_cpu_s = self.setup_wall_s = 0.0
        self.ops: list[dict] = []
        self.warm_from = 0  # ops before this index are cold and not in warm_cpu_s
        self.info: dict = {}
        self.layers: dict = {}

    def setup_done(self) -> None:
        """Set-up ends: the session is up and the workload's inputs are built.
        Its CPU and wall time count from the start of this process."""
        self.setup_cpu_s = session_cpu_s()
        self.setup_wall_s = time.perf_counter() - START

    def op(self, tracer, name: str, fn):
        """Time one operation; an exception fails it and the loop goes on."""
        with tracer.span("op", op=len(self.ops)) as span:
            c0, st0, t0 = session_cpu_s(), _steal_s(), time.perf_counter()
            try:
                value, ok = fn(), True
            except Exception:
                traceback.print_exc()
                value, ok = None, False
            dt = time.perf_counter() - t0
            cpu, steal = session_cpu_s() - c0, _steal_s() - st0
        self.ops.append(
            {"name": name, "s": dt, "cpu_s": cpu, "steal_s": steal, "ok": ok, "span": span}
        )
        return value

    def fail(self, i: int, why: str) -> None:
        print(f"check failed on op {i} ({self.ops[i]['name']}): {why}", file=sys.stderr)
        self.ops[i]["ok"] = False

    @property
    def warm(self) -> list[dict]:
        return self.ops[self.warm_from :] or self.ops


_TICK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds (user plus system) used so far by every process of this
    run's session: this driver, the Spark JVM it started, and the Python
    workers, with exited workers counted through the process that waited
    for them. Time the host gave to other machines (steal) is not in it."""
    sid, ticks = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # ended since the listing
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _steal_s() -> float:
    """CPU seconds the host has taken from this machine's cores so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# --- serve -------------------------------------------------------------------

def serve(spark, tracer, seed: int, work: str) -> Run:
    from graphrag_toolkit_spark import api, query_engine
    from graphrag_toolkit_spark.operators import processors
    from graphrag_toolkit_spark.session import load

    if tracer.enabled:
        # the names query_engine looks up, wrapped where it looks them up
        for layer in SERVE_LAYERS[:-1]:
            if layer != "operators.processors":
                tracer.wrap(query_engine, layer.rsplit(".", 1)[1], layer)
        for attr in ("dedup_results", "rescore_results"):
            tracer.wrap(processors, attr, "operators.processors")
        for attr in ("prune_statements", "truncate_statements", "truncate_results"):
            tracer.wrap(processors, attr, "operators.processors", factory=True)
        tracer.wrap(api.LexicalGraphQueryEngine, "query", "api.query")

    run = Run()
    queries = inputs.serve_queries(seed)
    graph = api.LexicalGraphIndex().extract_and_build(load(spark, inputs.DATA, "documents"))
    engine = api.LexicalGraphQueryEngine.for_traversal_based_search(graph)
    run.setup_done()

    # keep the rows query() collects, so checking them runs no second job
    collected: list = []
    retrieve = engine.retrieve

    def retrieve_and_keep(text):
        df = retrieve(text)
        collect = df.collect

        def keep():
            rows = collect()
            collected.append(rows)
            return rows

        df.collect = keep
        return df

    engine.retrieve = retrieve_and_keep

    answers, rows_of, persistent = [], [], []
    for text in queries[:SERVE_OPS]:
        collected.clear()
        resp = run.op(tracer, text, lambda: engine.query(text))
        answers.append(resp)
        rows_of.append(collected[0] if resp is not None and collected else None)
        persistent.append(_persistent_rdds(spark))
    run.warm_from = 1
    run.info = {
        "queries": [op["name"] for op in run.ops],
        "query_tokens": [len(op["name"].split()) for op in run.ops],
        "persistent_rdds": persistent,
    }
    run.layers = {
        "session.persistent_rdds.last": persistent[-1],
        "session.persistent_rdds.growth": persistent[-1] - persistent[0],
    }

    # output checks (after the measured loop, so the first call stays cold)
    cfg = engine.config
    prints = inputs.load_fingerprints()
    known = {
        col: set(prints["graph_ids"][table])
        for table, (col, _) in inputs.STORE_TABLES.items()
        if table in ("sources", "topics", "chunks", "statements")
    }
    stored = prints["serve"] if seed == inputs.DEFAULT_SEED else {}
    for i, (op, rows, resp) in enumerate(zip(run.ops, rows_of, answers)):
        if not op["ok"]:
            continue
        if rows is None:
            run.fail(i, "no rows collected")
            continue
        why = _serve_violation(rows, resp, cfg, known)
        if why is None and op["name"] in stored:
            got = inputs.rows_fingerprint([r.asDict(recursive=True) for r in rows])
            if got != stored[op["name"]]:
                why = f"fingerprint {got} != {stored[op['name']]}"
        if why:
            run.fail(i, why)
    return run


def _serve_violation(rows, resp, cfg, known) -> str | None:
    """The retrieval invariants of one query() result, or None if all hold."""
    if not 0 < len(rows) <= cfg.max_search_results:
        return f"{len(rows)} results"
    scores = [r["score"] for r in rows]
    if scores != sorted(scores, reverse=True):
        return "result scores increase"
    values = []
    for r in rows:
        if r["source_id"] not in known["source_id"]:
            return f"unknown source {r['source_id']}"
        for t in r["topics"] or []:
            if t["topic_id"] not in known["topic_id"]:
                return f"unknown topic {t['topic_id']}"
            stmts = t["statements"] or []
            if len(stmts) > cfg.max_statements_per_topic:
                return f"{len(stmts)} statements in one topic"
            s_scores = [s["score"] for s in stmts]
            if s_scores != sorted(s_scores, reverse=True):
                return "statement scores increase"
            for s in stmts:
                if s["statement_id"] not in known["statement_id"]:
                    return f"unknown statement {s['statement_id']}"
                values.append(s["value"])
            for c in t["chunks"] or []:
                if c["chunk_id"] not in known["chunk_id"]:
                    return f"unknown chunk {c['chunk_id']}"
    if resp.metadata.get("num_results") != len(rows):
        return "metadata num_results disagrees with the rows"
    if resp.response != "\n".join(values):
        return "answer is not the retrieved context"
    return None


# --- batch: ingest, then analytics -------------------------------------------

def batch(spark, tracer, seed: int, work: str) -> Run:
    from graphrag_toolkit_spark import indexing
    from graphrag_toolkit_spark.session import release_blocks
    from graphrag_toolkit_spark.sources import sink
    from graphrag_toolkit_spark.workload import all_queries

    if tracer.enabled:
        tracer.wrap(indexing, "extract_and_build", "indexing.extract_and_build")
        tracer.wrap(indexing, "to_graph_tables", "indexing.to_graph_tables")
        tracer.wrap(sink, "append_merge", "sources.sink.append_merge")

    run = Run()
    batches = inputs.ingest_batches(seed)
    order = inputs.analytics_order(seed)
    docs = inputs.read_documents(inputs.DATA)
    doc_bytes = int(docs.text.map(lambda t: len(t.encode())).sum())
    batch_dir, store = os.path.join(work, "batches"), os.path.join(work, "store")
    os.makedirs(batch_dir)
    os.makedirs(store)
    paths = []
    for i, ids in enumerate(batches):
        paths.append(os.path.join(batch_dir, f"batch{i}.parquet"))
        docs[docs.doc_id.isin(ids)].to_parquet(paths[-1], index=False)
    registry = all_queries()
    mix = [(name, registry[name]) for name in order]
    run.setup_done()

    # ingest: every batch merged into the store, a growing one after the first
    def apply(path: str) -> None:
        g = indexing.to_graph_tables(indexing.extract_and_build(spark.read.parquet(path)))
        for table, (id_col, _) in inputs.STORE_TABLES.items():
            target = os.path.join(store, table)
            sink.append_merge(spark, getattr(g, table), target, id_col)

    stored = inputs.load_fingerprints()
    for i, path in enumerate(paths):
        run.op(tracer, f"ingest.batch{i}", lambda: apply(path))
        release_blocks(spark)
    # the merged store holds exactly the one-shot build's ids, once each:
    # the documents sent twice added no row
    for table, (id_col, node) in inputs.STORE_TABLES.items():
        ids = sorted(r[0] for r in spark.read.parquet(os.path.join(store, table))
                     .select(id_col).collect())
        if ids != stored["graph_ids"][node]:
            run.fail(len(run.ops) - 1, f"{table}: {len(ids)} ids, not the one-shot build's")
    store_bytes = _dir_bytes(store)

    # analytics: the mix once, in seeded order
    for name, fn in mix:
        def one(name=name, fn=fn):
            with tracer.span(f"workload.{name}.construct"):
                df = fn(spark, inputs.DATA)
            with tracer.span(f"workload.{name}.action"):
                return df.columns, [r.asDict(recursive=True) for r in df.collect()]

        out = run.op(tracer, name, one)
        release_blocks(spark)
        if out is not None:
            cols, rows = out
            got = dict(inputs.rows_fingerprint(rows), columns=sorted(cols))
            if got != stored["analytics"][name]:
                run.fail(len(run.ops) - 1, f"{got} != oracle {stored['analytics'][name]}")

    run.warm_from = 1
    run.info = {
        "batch_docs": [len(b) for b in batches],
        "resent_docs": len(batches[1]) - (len(docs) - len(batches[0])),
        "analytics_order": order,
        "doc_bytes": doc_bytes,
        "store_bytes": store_bytes,
    }
    run.layers = {"sources.sink.store_bytes_per_doc_byte": store_bytes / doc_bytes}
    return run


WORKLOADS = {"serve": serve, "batch": batch}


# --- per-layer figures -------------------------------------------------------

def layer_metrics(workload: str, run: Run, spans: list[dict], log: dict) -> dict:
    att = tracing.Attribution(spans, log)
    out = {name: 0 for name in per_layer_names()}
    out.update(run.layers)

    def stats(layer: str, ops: list[dict]) -> dict:
        """Self time, jobs and stages of ``layer``'s spans inside ``ops``."""
        inside = set().union(*(att.subtree(op["id"]) for op in ops))
        ids = {s["id"] for s in spans if s["id"] in inside and s["name"] == layer}
        return {
            "self_s": sum(att.self_s(spans[i]) for i in ids),
            "jobs": att.jobs(ids),
            "stages": len(att.stage_ids(ids)),
        }

    def put(layer: str, values: dict) -> None:
        for stat, value in values.items():
            if f"{layer}.{stat}" in out:
                out[f"{layer}.{stat}"] = value

    ops = [op["span"] for op in run.ops]
    if workload == "serve":
        # per warm call, median over the calls
        warm = [op["span"] for op in run.warm]
        for layer in SERVE_LAYERS:
            calls = [stats(layer, [op]) for op in warm]
            put(layer, {k: statistics.median(c[k] for c in calls) for k in calls[0]})
        udf = [att.python_udf_stages(att.subtree(op["id"])) for op in warm]
        out["indexing.embed_values.stages"] = statistics.median(n for n, _ in udf)
        out["indexing.embed_values.executor_run_s"] = statistics.median(t for _, t in udf)
    else:
        for layer in INGEST_LAYERS + ("sources.sink.append_merge",):
            put(layer, stats(layer, ops))
        # what the merges wrote, their temporary copies included
        merges = {s["id"] for s in spans if s["name"] == "sources.sink.append_merge"}
        out["sources.sink.append_merge.bytes_written"] = att.bytes_written(merges)
        span_of = {op["name"]: op["span"] for op in run.ops}
        for name in inputs.ANALYTICS_QUERIES:
            kids = {s["name"]: s for s in att.children[span_of[name]["id"]]}
            con, act = kids[f"workload.{name}.construct"], kids[f"workload.{name}.action"]
            out[f"workload.{name}.construct_s"] = con["end"] - con["start"]
            out[f"workload.{name}.construct_jobs"] = att.jobs({con["id"]})
            out[f"workload.{name}.action_s"] = act["end"] - act["start"]
            out[f"workload.{name}.jobs"] = att.jobs({con["id"], act["id"]})

    # Spark totals over every operation of the run
    totals = att.task_totals(set().union(*(att.subtree(op["id"]) for op in ops)))
    out.update({f"spark.{k}": v for k, v in totals.items()})
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()

    from graphrag_toolkit_spark.session import build_session

    spark = build_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - START

    tracer = tracing.Tracer(spark, enabled=bool(a.trace))
    try:
        run = WORKLOADS[a.workload](spark, tracer, a.seed, a.work)
    finally:
        tracer.unwrap_all()
        spark.stop()

    end_to_end = {
        "setup_s": run.setup_cpu_s,
        "warm_cpu_s": sum(op["cpu_s"] for op in run.warm),
    }
    record = {
        "attempted": len(run.ops),
        "failed": sum(not op["ok"] for op in run.ops),
        "end_to_end": end_to_end,
        "info": dict(
            run.info,
            session_wall_s=session_s,
            setup_wall_s=run.setup_wall_s,
            op_wall_s=[op["s"] for op in run.ops],
            op_cpu_s=[op["cpu_s"] for op in run.ops],
            op_steal_s=[op["steal_s"] for op in run.ops],
        ),
    }
    if a.trace:
        log = tracing.read_event_log(os.path.join(a.work, "eventlog"))
        layers = layer_metrics(a.workload, run, tracer.spans, log)
        layers.update({f"trace.{k}": v for k, v in end_to_end.items()})
        layers["trace.first_op_cpu_s"] = run.ops[0]["cpu_s"]
        layers["trace.first_op_wall_s"] = run.ops[0]["s"]
        layers["trace.warm_wall_s"] = sum(op["s"] for op in run.warm)
        record["per_layer"] = layers
        record["spans"] = tracer.spans
    with open(a.out, "w") as f:
        json.dump(record, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
