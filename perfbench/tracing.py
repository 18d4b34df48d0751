"""In-memory spans around the package's public functions, and the Spark
event-log figures attributed to them.

A span is (id, name, start, end, parent, op). Entering a span sets a Spark
job group named after the span id, so every job the span submits carries its
id in the event log. Jobs submitted from threads that do not carry the group
are attributed by submission time to the innermost span open at that moment.
Self time is a span's duration minus the time covered by its child spans.

Nothing here edits the package: ``wrap`` replaces a function at the module
or class attribute its callers look it up through, and ``unwrap_all`` puts
every original back.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "depth": len(stack),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(s)
        stack.append(s)
        self.sc.setJobGroup(f"pb-{s['id']}", name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, factory: bool = False) -> None:
        """Record a span around ``owner.attr``. With ``factory`` the attribute
        returns a processor callable, and the span goes around that callable."""
        orig = getattr(owner, attr)
        tracer = self

        if factory:
            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                inner = orig(*args, **kwargs)

                def run(*a, **kw):
                    with tracer.span(name):
                        return inner(*a, **kw)

                return run
        else:
            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                with tracer.span(name):
                    return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


# --- event log ---------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from the event log(s) under ``log_dir``."""
    jobs, stages = {}, {}
    tasks = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submitted": ev["Submission Time"] / 1000.0,
                    }
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if info.get("Stage Attempt ID", 0) != 0:
                        continue
                    scopes = []
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope:
                            scopes.append(json.loads(scope).get("name", ""))
                    stages[info["Stage ID"]] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submitted": info.get("Submission Time", 0) / 1000.0,
                        "scopes": scopes,
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    om = m.get("Output Metrics") or {}
                    failed = (ev.get("Task End Reason") or {}).get("Reason") != "Success"
                    tasks[ev["Stage ID"]].append(
                        {
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "shuffle_read": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "written": om.get("Bytes Written", 0),
                            "failed": failed,
                        }
                    )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


class Attribution:
    """Maps the event log's jobs and stages onto the tracer's spans."""

    def __init__(self, spans: list[dict], log: dict) -> None:
        self.spans = spans
        self.log = log
        self.job_span = {j: self._owner(info) for j, info in log["jobs"].items()}
        self.stage_span = {s: self._owner(info) for s, info in log["stages"].items()}
        self.children = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)

    def _owner(self, info: dict) -> int | None:
        group = info["group"]
        if group and group.startswith("pb-"):
            return int(group[3:])
        # not carrying a span's group (e.g. submitted from a pool thread):
        # the innermost span open at submission time
        t = info["submitted"]
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t) and (
                best is None or s["depth"] > best["depth"]
            ):
                best = s
        return best["id"] if best else None

    def subtree(self, span_id: int) -> set[int]:
        out, todo = set(), [span_id]
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(c["id"] for c in self.children[i])
        return out

    def self_s(self, span: dict) -> float:
        kids = sum(c["end"] - c["start"] for c in self.children[span["id"]])
        return span["end"] - span["start"] - kids

    def jobs(self, span_ids: set[int]) -> int:
        return sum(1 for owner in self.job_span.values() if owner in span_ids)

    def stage_ids(self, span_ids: set[int]) -> list[int]:
        return [s for s, owner in self.stage_span.items() if owner in span_ids]

    def task_totals(self, span_ids: set[int]) -> dict:
        stage_ids = self.stage_ids(span_ids)
        out = {
            "jobs": self.jobs(span_ids),
            "stages": len(stage_ids),
            "tasks": 0,
            "executor_run_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "max_task_share": 0.0,
            "failed_tasks": 0,
        }
        for sid in stage_ids:
            ts = self.log["tasks"].get(sid, [])
            run = sum(t["run_s"] for t in ts)
            out["tasks"] += len(ts)
            out["executor_run_s"] += run
            out["shuffle_read_bytes"] += sum(t["shuffle_read"] for t in ts)
            out["shuffle_write_bytes"] += sum(t["shuffle_write"] for t in ts)
            out["spill_bytes"] += sum(t["spill"] for t in ts)
            out["failed_tasks"] += sum(t["failed"] for t in ts)
            # one task doing most of a multi-task stage's work: a fan-out
            # that did not spread (stages under 100 ms are noise)
            if len(ts) > 1 and run >= 0.1:
                share = max(t["run_s"] for t in ts) / run
                out["max_task_share"] = max(out["max_task_share"], share)
        return out

    def bytes_written(self, span_ids: set[int]) -> int:
        """Output bytes the tasks of the spans' stages wrote to storage."""
        return sum(
            t["written"]
            for sid in self.stage_ids(span_ids)
            for t in self.log["tasks"].get(sid, [])
        )

    def python_udf_stages(self, span_ids: set[int]) -> tuple[int, float]:
        """Stages that run a pandas/Arrow Python function, with their executor
        time: in ``serve`` these re-run the handle's ``embed_values``
        lineage on every call."""
        n, run = 0, 0.0
        for sid in self.stage_ids(span_ids):
            scopes = self.log["stages"][sid]["scopes"]
            if any("InPandas" in s or "InArrow" in s or "EvalPython" in s for s in scopes):
                n += 1
                run += sum(t["run_s"] for t in self.log["tasks"].get(sid, []))
        return n, run
