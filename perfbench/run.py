"""Benchmark command: one run of one workload against the package in this
checkout.

    python3 perfbench/run.py --workload serve|batch \
        --seed N --seconds S --trace 0|1

Workloads (closed loop, one client, ``local[<cores>]``, sf0.001 tables
copied under ``perfbench/data``):

- ``serve``: build a graph handle from the documents with
  ``LexicalGraphIndex.extract_and_build``, then call
  ``LexicalGraphQueryEngine.for_traversal_based_search(g).query(q)`` with
  seeded 3-6 token queries: the first call on the fresh handle, then one
  warm call.
- ``batch``: the documents in two seeded batches (the second re-sends a
  share of the first) through ``extract_and_build`` -> ``to_graph_tables``
  -> ``sources.sink.append_merge`` of every node and embedding table into a
  fresh on-disk store; then each registry query of the mix once, in seeded
  order, built and collected.

Each workload runs a fixed set of operations, so every commit measures the
same work whatever its speed. ``--seconds`` is recorded in the run record
but ends no loop: the fixed sets last about 35-50 s on 4 cores.

End-to-end metrics (untraced), in CPU seconds of every process of the run
(the driver, its Spark JVM and the Python workers): ``setup_s`` (from
process start until the workload's inputs are built: interpreter, session,
and for serve the graph handle and engine) and ``warm_cpu_s`` (the
operations after the first, which runs on a fresh handle or into an empty
store: serve's warm call; batch's second ingest batch and the analytics
mix). CPU time, because the cores here are shared with other machines and
wall time of the same work drifts by 30-60% between hours, while the CPU
time the run used moves far less. The run record gives each operation's
wall time, CPU time and the CPU time stolen by the host meanwhile.

Every output is checked: retrieval invariants and ids, and stored oracle,
serve and one-shot-build fingerprints (``fingerprints.json``, made by
``make_fingerprints.py``). The last stdout line is the result
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics, or
per-layer ones with ``--trace 1``. The line before it is the run record:
load average, cores, and the generated inputs' properties. A traced run
also leaves its spans and figures under ``.perfbench/trace/``. Exit code 0
only when every output was correct.

The run happens in a child process group that this command always stops;
the per-run store, Spark local dirs and event log live under ``.perfbench/``
in the checkout and are removed afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve", "batch")
# one run must end well inside the 180 s a run is allowed
RUN_TIMEOUT_S = 170
DRIVER_MEM = "2g"


def launch_env(work: str, cores: int, trace: bool) -> dict:
    """The environment a Spark driver of the benchmark starts under: the
    package on PYTHONPATH, the core count, local dirs and driver heap under
    ``work``, and the event log for traced runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env = dict(os.environ)
    env.update({
        # Spark's Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"
        ),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {k}={v}" for k, v in conf.items()
        ) + " pyspark-shell",
    })
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the run's group and wait until none is left."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 20
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
        time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "graphrag_toolkit_spark", "__init__.py")):
        print(f"no graphrag_toolkit_spark package under {ROOT}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--trace", str(a.trace),
        "--work", work, "--out", out,
    ]
    try:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=launch_env(work, cores, bool(a.trace)),
            stdout=sys.stderr, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
        if code != 0:
            print(f"run failed: exit {code}", file=sys.stderr)
            return 3
        with open(out) as f:
            record = json.load(f)
        if a.trace:
            trace_dir = os.path.join(base, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
            with open(path, "w") as f:
                json.dump(record, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    sys.path.insert(0, HERE)
    from worker import END_TO_END, per_layer_units

    if a.trace:
        units, values = per_layer_units(), record["per_layer"]
    else:
        units, values = END_TO_END, record["end_to_end"]
    correct = record["failed"] == 0
    print(json.dumps(dict(
        record["info"],
        workload=a.workload, seed=a.seed, seconds=a.seconds, cores=cores,
        loadavg_1min=os.getloadavg()[0],
    )))
    print(json.dumps({
        "correct": correct,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
